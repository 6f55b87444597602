"""Shared plumbing of the benchmark: Spark session lifecycle, the closed
request loop and peak memory."""

from __future__ import annotations

import os
import resource
import sys
import threading
import time

#: executor slots; fixed so runs on bigger machines stay comparable
CORES = 4


_T0 = time.perf_counter()


def phase(name: str) -> None:
    """Log the time since start on stderr, to see where a run's wall
    time goes."""
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {name}",
          file=sys.stderr, flush=True)


class SparkLifecycle:
    """Starts and stops sessions of the engine's own session factory, all
    in one JVM, with every scratch file under *work_dir*. :meth:`close`
    ends the JVM and waits for it."""

    def __init__(self, work_dir: str) -> None:
        self.work_dir = work_dir
        self.spark = None
        self._proc = None
        self._launch: threading.Thread | None = None
        heap = os.environ.get("SPARK_DRIVER_MEMORY", "2g")
        local = os.path.join(work_dir, "spark-local")
        os.makedirs(local, exist_ok=True)
        self._jvm_conf = {
            "spark.driver.memory": heap,
            # no perf data file in the system temp dir
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        }
        self._conf = {**self._jvm_conf,
                      "spark.local.dir": local,
                      "spark.ui.showConsoleProgress": "false",
                      "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse")}

    def launch(self) -> None:
        """Start the JVM on a background thread, so that generating the
        inputs overlaps its start-up; :meth:`start` waits for it."""
        from pyspark import SparkConf, SparkContext

        conf = SparkConf(loadDefaults=False).setAll(self._jvm_conf.items())
        self._launch = threading.Thread(
            target=SparkContext._ensure_initialized, kwargs={"conf": conf})
        self._launch.start()

    def start(self, app: str):
        from pyspark import SparkContext

        from tantalus_spark import get_spark

        if self._launch is not None:
            self._launch.join()
            self._launch = None
        self.spark = get_spark(app, master=f"local[{CORES}]",
                               shuffle_partitions=CORES, extra_conf=self._conf)
        gateway = SparkContext._gateway
        if self._proc is None and gateway is not None:
            self._proc = getattr(gateway, "proc", None)
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        from pyspark import SparkContext

        if self._launch is not None:
            self._launch.join()
        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is not None:
            self._proc = self._proc or getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self._proc is not None:
            if self._proc.stdin is not None:
                self._proc.stdin.close()
            try:
                self._proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - a JVM that will not exit
                self._proc.kill()
                self._proc.wait(timeout=30)


def _rss_bytes() -> int:
    with open("/proc/self/statm") as fh:
        return int(fh.read().split()[1]) * resource.getpagesize()


class RssWatch:
    """Growth of this process's resident memory over its size at
    :meth:`start`, sampled every 50 ms until :meth:`stop`. Started once
    the inputs exist, it leaves out the benchmark's own input generation
    and answer checks."""

    def __init__(self) -> None:
        self.growth = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def start(self) -> None:
        base = _rss_bytes()

        def sample() -> None:
            while not self._stop.wait(0.05):
                self.growth = max(self.growth, _rss_bytes() - base)

        self._thread = threading.Thread(target=sample, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        if self._thread is not None:
            self._stop.set()
            self._thread.join()
            self._thread = None


def peak_rss_mb(python: RssWatch) -> float:
    """Peak resident memory of the engine: the JVM's peak (the largest
    waited-for child, once :meth:`SparkLifecycle.close` has reaped it)
    plus the Python driver's growth while *python* watched it."""
    jvm = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss * 1024
    return (jvm + python.growth) / 2**20


def closed_loop(clients: int, seconds: float, next_request, serve,
                on_error) -> tuple[list[tuple], float]:
    """Run *clients* threads; each takes ``next_request()`` and calls
    ``serve(client, request)`` until *seconds* have passed since the
    start or ``next_request()`` returns None, sending its next request
    only after the previous reply. A request started in time is waited
    for. Returns the completed
    ``(request, latency_s, answer)`` records in completion order and the
    elapsed wall time."""
    done: list[tuple] = []
    lock = threading.Lock()
    start = time.perf_counter()
    deadline = start + seconds

    def client(k: int) -> None:
        while time.perf_counter() < deadline:
            with lock:
                req = next_request()
            if req is None:
                return
            t0 = time.perf_counter()
            try:
                answer = serve(k, req)
            except Exception as exc:  # noqa: BLE001 - counted as a failure
                on_error(req, exc)
                answer = None
            lat = time.perf_counter() - t0
            with lock:
                done.append((req, lat, answer))

    threads = [threading.Thread(target=client, args=(k,), daemon=True)
               for k in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=seconds + 150)
    if any(t.is_alive() for t in threads):
        raise RuntimeError("a client did not finish its last request")
    return done, time.perf_counter() - start

