"""The two workload runners. Each generates its inputs from the seed,
sets the engine up several times (timing each set-up), measures for the
given seconds, stops every session, then checks every answer."""

from __future__ import annotations

import contextlib
import itertools
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np

import catalog_gen
import catalog_read as reads
import catalog_write as writes
import corpus
import oracle
from common import RssWatch, SparkLifecycle, closed_loop, peak_rss_mb, phase
from instrument import HEADER, Probe, install, traced_server, uninstall
from tracer import Tracer, layer_of, self_share, self_times

SETUPS = 3
# the read warm-up is a count, not a time, so the measured window always
# starts at the same stream position (see catalog_read.templates)
WARMUP_READS = 2
# time cap of a traced run's untimed pass over the templates its window
# did not trace
COVERAGE_S = 20
READ_CLIENTS = 2
READ_SHARE = 0.8            # of the catalog window; the write cycles follow
# write cycles a catalog run makes, each of WRITES_PER_CYCLE writes and a
# read-back: a fixed count, so every run times the same twelve writes,
# every (op, table) pair once, and reads back with every kind (about 15 s
# on 4 cores)
WRITE_CYCLES = 6
WRITES_PER_CYCLE = 2
# timed corpus passes made even if the window ends first, so the median
# never rests on one pass
MIN_PASSES = 2
N_DOCS = 1000
# tables behind the first answer of a catalog set-up; the rest of the
# catalog stays registered but unread until a request needs it
FIRST_TABLES = ("sequence_dataset", "sequencedataset_tags", "tag")

# corpus steps that write into the segmented store
COMMIT_STEPS = ("maintenance.commit", "maintenance.fold")

# spans of the layers each workload is meant to spend its time in
NAMED_SPANS = {
    "catalog": ("compiler.", "pagination.", "serializers.", "api.serialize"),
    "corpus_pipeline": ("pipeline.", "dedup.", "textstats.", "maintenance."),
}
# spans whose self time no named layer accounts for: the client's side of a
# request or pass, and the facade's handler outside the spanned calls
UNATTRIBUTED_SPANS = ("request", "pass", "api.handle")


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)
    problems: list = field(default_factory=list)
    tracer: Tracer | None = None         # a traced run's spans


def _setups(start, first_ok, stop, out: Outcome):
    """Set up SETUPS times, each through its first correct answer; every
    set-up but the last is torn down again (untimed). The first set-up
    starts the session in a cold JVM, the others in a warm one."""
    times, state = [], None
    phase("inputs ready")
    for i in range(SETUPS):
        t0 = time.perf_counter()
        state = start()
        ok = first_ok(state)
        times.append(time.perf_counter() - t0)
        out.attempted += 1
        if not ok:
            out.failed += 1
            out.problems.append(f"set-up {i}: first answer wrong")
        phase(f"set-up {i} took {times[-1]:.2f}s")
        if i < SETUPS - 1:
            stop(state)
    return times, state


def _end_to_end(setup_times, latencies, elapsed, units, rss: RssWatch) -> dict:
    return {"setup_s": statistics.median(setup_times),
            "p50_ms": statistics.median(latencies) * 1000,
            "ops_per_s": units / elapsed,
            "peak_rss_mb": peak_rss_mb(rss)}


def _traced_slot(i: int) -> bool:
    """Pseudo-random half of the request slots, uncorrelated with the
    template rotation, carry a trace in a traced run."""
    return (i * 2654435761) >> 16 & 1 == 1


def _median_ms(xs) -> float:
    return statistics.median(xs) * 1000 if xs else 0.0


def _overhead_pct(done, traced_of) -> float:
    """Tracing overhead in percent: each latency is divided by its
    template's median, and the median of these ratios over traced
    requests is compared with that over untraced ones. Templates with
    fewer than two requests are left out."""
    by = defaultdict(list)
    for item, lat, ans in done:
        if ans is not None:
            t, name = traced_of(item)
            by[name].append((t, lat))
    traced, untraced = [], []
    for xs in by.values():
        if len(xs) > 1:
            mid = statistics.median(lat for _, lat in xs)
            for t, lat in xs:
                (traced if t else untraced).append(lat / mid)
    if not traced or not untraced:
        return 0.0
    return (statistics.median(traced) / statistics.median(untraced) - 1) * 100


def _layer_metrics(tracer: Tracer, probe: Probe, workload: str) -> dict:
    spans = tracer.spans
    probe.count_jobs({s.request for s in spans if s.parent is None})
    own = self_times(spans)
    dur = defaultdict(list)                  # self times by span name
    per_req = defaultdict(lambda: defaultdict(float))   # ... by layer
    for s in spans:
        dur[s.name].append(own[s.id])
        per_req[s.request][layer_of(s.name)] += own[s.id]
    # per-request figures cover read requests (catalog) or passes (corpus);
    # the catalog's write cycles show up in the mutations and history spans
    roots = [s for s in spans if s.parent is None and s.name in ("request", "pass")]
    m = {name: _median_ms(dur[span]) for name, span in [
        ("api.serialize_ms", "api.serialize"),
        ("pagination.count_ms", "pagination.count"),
        ("pagination.page_ms", "pagination.page"),
        ("search.free_text_ms", "search.free_text"),
        ("search.datatables_ms", "search.datatables"),
        ("serializers.expand_ms", "serializers.expand"),
        ("serializers.csv_ms", "serializers.csv"),
        ("stats.dashboard_ms", "stats.dashboard"),
        ("stats.library_ms", "stats.library"),
        ("mutations.post_ms", "mutations.post"),
        ("mutations.put_ms", "mutations.put"),
        ("mutations.delete_ms", "mutations.delete"),
        ("history.append_ms", "history.append"),
        ("history.as_of_ms", "history.as_of"),
        ("history.curation_changes_ms", "history.curation_changes"),
        ("textstats.bm25_serve_ms", "textstats.bm25_serve"),
        ("maintenance.commit_ms", "maintenance.commit"),
        ("maintenance.fold_ms", "maintenance.fold"),
        ("maintenance.load_ms", "maintenance.load"),
    ]}
    for name, span in [("pipeline.clean_corpus_s", "pipeline.clean_corpus"),
                       ("dedup.minhash_lsh_s", "dedup.minhash_lsh"),
                       ("textstats.index_build_s", "textstats.index_build")]:
        m[name] = statistics.median(dur[span]) if dur[span] else 0.0
    compiled = [r for r in roots if per_req[r.request]["compiler"] > 0]
    m["compiler.compile_ms"] = _median_ms(
        [per_req[r.request]["compiler"] for r in compiled])
    m["compiler.joins_per_request"] = (
        statistics.mean(probe.joins(r.request) for r in compiled) if compiled else 0.0)
    # HTTP latency minus the service call: the client's root span and
    # the server's handler span, each less its children
    handled = defaultdict(float)
    for s in spans:
        if s.name == "api.handle":
            handled[s.request] += own[s.id]
    m["api.overhead_ms"] = _median_ms([own[r.id] + handled[r.request]
                                       for r in roots if r.request in handled])
    returned = sum(n for _, n in probe.page_rows)
    m["pagination.rows_matched_per_row_returned"] = (
        sum(t for t, _ in probe.page_rows) / returned if returned else 0.0)
    jobs = [probe.jobs[r.request] for r in roots if r.request in probe.jobs]
    per = "spark.jobs_per_pass" if workload == "corpus_pipeline" else "spark.jobs_per_request"
    m[per] = statistics.mean(j for j, _ in jobs) if jobs else 0.0
    if workload != "corpus_pipeline":
        m["spark.tasks_per_request"] = statistics.mean(t for _, t in jobs) if jobs else 0.0
    m["trace.named_layer_share_pct"] = 100 * self_share(
        spans, roots, NAMED_SPANS[workload])
    m["trace.unattributed_pct"] = 100 * self_share(spans, roots, UNATTRIBUTED_SPANS)
    return m


# ------------------------------------------------------------ catalog set-up

def _catalog_inputs(seed: int, work: str):
    """The generated catalog, its directory, a read-only DuckDB over it and
    a second one whose written tables the write replay may change."""
    data = catalog_gen.generate(seed)
    cat_dir = os.path.join(work, "catalog")
    catalog_gen.write(data, cat_dir)
    writable = writes.WRITTEN + [f"{t}_history" for t in writes.HISTORY]
    return (data, cat_dir, oracle.connect(cat_dir, list(data)),
            oracle.connect(cat_dir, list(data), writable))


def _catalog_session(life: SparkLifecycle, cat_dir: str, probe: Probe,
                     traced: bool):
    from tantalus_spark.api import ApiServer
    from tantalus_spark.catalog.loader import load_dir
    from tantalus_spark.catalog.tantalus_model import tantalus_catalog

    spark = life.start("perfbench")
    probe.sc = spark.sparkContext
    t0 = time.perf_counter()
    db = load_dir(spark, cat_dir, tantalus_catalog())
    for name in FIRST_TABLES:           # what the first answer resolves
        db.table(name)
    load_s = time.perf_counter() - t0
    server = traced_server(db, probe) if traced else ApiServer(db)
    host, port = server.serve_background()
    return db, server, f"http://{host}:{port}", load_s


def _stop_server(server) -> None:
    phase("stopping server")
    server.shutdown()
    server.server_close()


# ------------------------------------------------------------------ catalog

def catalog(seed: int, seconds: float, traced: bool, work: str) -> Outcome:
    """Reads for READ_SHARE of the window, then WRITE_CYCLES write
    cycles. The phases do not overlap, so every read is checked against
    the generated catalog and every write cycle against the DuckDB
    replay."""
    out = Outcome()
    life = SparkLifecycle(work)
    life.launch()                      # the JVM starts while inputs are made
    try:
        data, cat_dir, con, replay_con = _catalog_inputs(seed, work)
    except BaseException:
        life.close()
        raise
    values = reads.Values(data)
    first = {"kind": "list", "endpoint": "sequence_dataset",
             "params": {"tags__name": values.hot_tags[0]}, "page": 1,
             "expand": None}
    first_want = reads.normalise(reads.expected(con, first))
    tracer = Tracer(enabled=traced)
    out.tracer = tracer if traced else None
    probe = Probe(tracer)
    if traced:
        install(probe)
    server = None
    errors = []
    rss = RssWatch()
    rss.start()
    try:
        def stop(state):
            _stop_server(state[1])
            life.stop_session()

        times, (db, server, base, load_s) = _setups(
            lambda: _catalog_session(life, cat_dir, probe, traced),
            lambda st: reads.normalise(reads.serve(st[0], st[2], first)) == first_want,
            stop, out)

        # reads
        stream = reads.request_stream(seed, values)
        counter = itertools.count()

        seen = set()                       # templates with a traced read

        def next_read():
            i, req = next(counter), next(stream)
            rid = f"r{i}" if traced and _traced_slot(i) else None
            if rid:
                seen.add(req["template"])
            return i, req, rid

        def serve_read(_, item):
            i, req, rid = item
            with probe.request(rid):
                return reads.serve(db, base, req, {HEADER: rid} if rid else None,
                                   span=probe.span)

        def read_error(item, exc):
            errors.append(f"{item[1]['template']}: {exc!r}")

        left = itertools.count(WARMUP_READS, -1)
        warm, _ = closed_loop(READ_CLIENTS, 120,
                              lambda: next_read() if next(left) > 0 else None,
                              serve_read, read_error)
        seen.clear()                       # the measured window starts afresh
        probe.reset()
        phase("read warm-up done")
        done, elapsed = closed_loop(READ_CLIENTS, seconds * READ_SHARE, next_read,
                                    serve_read, read_error)
        phase("reads measured")
        covered, rest_done = [], []
        if traced:
            # untimed: one traced request of each template with a layer of
            # its own (expand, CSV, search, stats) that the window did not
            # trace, lightest first, so that every layer gets spans; plain
            # list requests reach no layer the window's reads miss
            rng = np.random.default_rng([seed, 4])
            todo = [(name, {**build(rng), "template": name})
                    for name, build in reads.templates(values) if name not in seen]
            rest = iter([(name, req) for name, req in todo
                         if req["kind"] != "list" or req["expand"]])

            def serve_rest(_, item):
                name, req = item
                with probe.request(f"c-{name}", "coverage"):
                    return reads.serve(db, base, req, {HEADER: f"c-{name}"},
                                       span=probe.span)

            rest_done, _ = closed_loop(
                READ_CLIENTS, COVERAGE_S, lambda: next(rest, None), serve_rest,
                lambda item, exc: errors.append(f"{item[0]}: {exc!r}"))
            covered = [(req, ans) for (_, req), _, ans in rest_done if ans is not None]
            phase(f"{len(covered)} more templates served")

        # write cycles: writes, each with its history append, then a
        # read-back of one of the rows written
        client = writes.Client(db, base, writes.Model(data, seed), probe.span)
        write_lat, cycle_lat = [], []

        def serve_cycle(i):
            rid = f"w{i}" if traced else None
            client.headers = {HEADER: rid} if rid else {}
            t0 = time.perf_counter()
            with probe.request(rid, "cycle"):
                batch = []
                for _ in range(WRITES_PER_CYCLE):
                    t1 = time.perf_counter()
                    batch.append(client.write())
                    write_lat.append(time.perf_counter() - t1)
                client.read(batch[i % len(batch)])
            cycle_lat.append(time.perf_counter() - t0)

        for i in range(WRITE_CYCLES):
            try:
                serve_cycle(i)
            except Exception as exc:  # noqa: BLE001 - counted as a failure
                errors.append(f"write cycle {i}: {exc!r}")
        rss.stop()
        phase("writes measured")
        replay = writes.replay_check(replay_con, client.log)
        phase("write log replayed")
        final = writes.final_state_check(replay_con, db, client.log)
        phase("writes checked")
        if traced:
            layer = _layer_metrics(tracer, probe, "catalog")
    finally:
        rss.stop()
        if server is not None:
            _stop_server(server)
        life.close()
        phase("engine stopped")
        if traced:
            uninstall()

    wrong = reads.check(con, [(req, ans) for (_, req, _), _, ans in warm + done
                              if ans is not None] + covered)
    out.attempted += len(warm) + len(done) + len(rest_done) + WRITE_CYCLES
    out.failed += len(wrong) + len(errors) + len(replay) + len(final)
    out.problems += wrong + errors + replay + final
    ok = [lat for _, lat, ans in done if ans is not None]
    phase(f"read ms {sorted(round(x * 1000) for x in ok)}")
    phase(f"write ms {[round(x * 1000) for x in write_lat]}")
    phase(f"cycle ms {[round(x * 1000) for x in cycle_lat]}")
    if not traced:
        out.metrics = _end_to_end(times, ok, elapsed, len(ok), rss)
        out.metrics["write_p50_ms"] = _median_ms(write_lat)
        return out
    layer["catalog.load_ms"] = load_s * 1000
    layer["trace.overhead_pct"] = _overhead_pct(
        done, lambda item: (item[2] is not None, item[1]["template"]))
    out.metrics = layer
    return out


# ---------------------------------------------------------- corpus_pipeline

def corpus_pipeline(seed: int, seconds: float, traced: bool, work: str) -> Outcome:
    """Full passes for the window, after an untimed reference pass that
    the DuckDB oracles check and every timed pass must reproduce."""
    from tantalus_spark.catalog.loader import read_parquet

    out = Outcome()
    life = SparkLifecycle(work)
    life.launch()
    path = os.path.join(work, "documents.parquet")
    store = os.path.join(work, "store")
    tracer = Tracer(enabled=traced)
    out.tracer = tracer if traced else None
    probe = Probe(tracer)
    state = {}
    rss = RssWatch()
    try:
        corpus.write_documents(corpus.generate_documents(seed, N_DOCS), path)
        rss.start()

        def start():
            spark = life.start("perfbench")
            probe.sc = spark.sparkContext
            t0 = time.perf_counter()
            df = read_parquet(spark, path)
            state["load_s"] = time.perf_counter() - t0
            return spark, df

        times, (spark, df) = _setups(
            start, lambda st: st[1].count() == N_DOCS,
            lambda st: life.stop_session(), out)
        reference = corpus.run_pass(spark, df, store, parallel=True)
        phase("reference pass done")

        steps = []                               # (name, latency) per step

        @contextlib.contextmanager
        def step(name):
            t0 = time.perf_counter()
            with probe.span(name):
                yield
            steps.append((name, time.perf_counter() - t0))

        passes = []
        start_t = time.perf_counter()
        deadline = start_t + seconds
        for i in itertools.count():
            # a pass is several seconds long: start one only if it is
            # expected to end by about the deadline
            last = passes[-1][1] if passes else 0.0
            if i >= MIN_PASSES and time.perf_counter() + last / 2 >= deadline:
                break
            rid = f"p{i}" if traced and i % 2 == 0 else None
            t0 = time.perf_counter()
            with probe.request(rid, "pass"):
                got = corpus.run_pass(spark, df, store, span=step)
            passes.append((i, time.perf_counter() - t0, got))
        elapsed = time.perf_counter() - start_t
        rss.stop()
        phase(f"{len(passes)} passes measured: ms {[round(p[1] * 1000) for p in passes]}")
        if traced:
            layer = _layer_metrics(tracer, probe, "corpus_pipeline")
            phase("spans summarised")
            layer["dedup.candidates_per_pair"] = (
                _candidates(df) / max(len(reference["pairs"]), 1))
            phase("candidates counted")
    finally:
        rss.stop()
        life.close()
        phase("engine stopped")

    out.problems += corpus.reference_check(path, reference)
    phase("reference checked")
    want = corpus.digests(reference)
    out.attempted += 1 + len(passes)
    out.failed += len(out.problems)
    for i, _, got in passes:
        if corpus.digests(got) != want:
            out.failed += 1
            out.problems.append(f"pass {i}: digests {corpus.digests(got)} != {want}")
    if traced:
        last = passes[-1][2]
        layer["maintenance.bytes_written_per_input_byte"] = (
            last["store_bytes"] / os.path.getsize(path))
        layer["maintenance.segments_live"] = last["segments"]
        layer["catalog.load_ms"] = state["load_s"] * 1000
        layer["trace.overhead_pct"] = _overhead_pct(
            [(i, lat, True) for i, lat, _ in passes], lambda i: (i % 2 == 0, "pass"))
        out.metrics = layer
    else:
        out.metrics = _end_to_end(times, [lat for _, lat, _ in passes], elapsed,
                                  N_DOCS * len(passes), rss)
        out.metrics["write_p50_ms"] = _median_ms(
            [lat for name, lat in steps if name in COMMIT_STEPS])
    return out


def _candidates(df) -> int:
    """Distinct document pairs sharing a MinHash band: the pairs the LSH
    join hands to exact verification. The bands are collected and paired
    here, which is far cheaper than a Spark self-join on this corpus."""
    from tantalus_spark.datapipe.dedup import minhash_bands

    buckets = defaultdict(set)
    for r in minhash_bands(df, n_perm=16, bands=4).collect():
        for b in r["bands"]:
            buckets[b].add(r["doc_id"])
    return len({pair for docs in buckets.values()
                for pair in itertools.combinations(sorted(docs), 2)})
