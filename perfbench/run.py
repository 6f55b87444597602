"""Benchmark of the tantalus engine: catalog reads and writes, and the
corpus pipeline, each checked against DuckDB.

Run from the repository root::

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` makes a traced
run and prints the per-layer metrics. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
Every scratch file lives under ``.perfbench_work/`` in the current
directory and is removed at exit; a traced run leaves its spans in
``.perfbench_work/spans/<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

from common import phase  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = ("catalog", "corpus_pipeline")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import workloads                    # fails fast without the engine

    # history timestamps cross the Python/JVM boundary as naive UTC
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    root = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    try:
        run = getattr(workloads, args.workload)
        out = run(args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):     # other runs may share it
            os.rmdir(root)
    if out.tracer is not None:
        spans = os.path.join(root, "spans", f"{args.workload}-{args.seed}.jsonl")
        out.tracer.dump(spans)
        phase(f"spans written to {spans}")
    phase("done")

    wanted = PER_LAYER if args.trace else END_TO_END
    metrics = {name: {"value": float(out.metrics.get(name, 0.0)), "unit": unit}
               for name, unit in wanted.items()}
    for name, m in metrics.items():
        print(f"{name:44s} {m['value']:14.4f} {m['unit']}")
    print(f"{'error_rate':44s} {out.failed / max(out.attempted, 1):14.4f} ratio")
    print(f"{'attempted':44s} {out.attempted:14d} count")
    print("claim: null")
    for line in out.problems[:20]:
        print("MISMATCH", line)
    print(json.dumps({"correct": out.failed == 0 and not out.problems,
                      "attempted": out.attempted, "failed": out.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
