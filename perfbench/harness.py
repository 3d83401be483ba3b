"""Process set-up, timing, tracing and result emission shared by the workloads.

Everything here wraps the program from outside: the counting storage is a
subclass of the public ``LocalStorage`` handed to the engine as
``storage=``, Spark jobs are read back from the session's status store, and
spans are recorded around the calls the workloads make.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
LOG_DIR_MARK = "/_version_log"


def prepare_process(work: Path) -> None:
    """Point every temporary file of this process and of the Spark JVM at
    ``work`` and make the checkout's package importable. Must run before
    pyspark is imported."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    import tempfile

    tempfile.tempdir = None
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        # no hsperfdata file under /tmp: the run writes only in its checkout.
        # C1 only and the parallel collector: with the default C2 and G1 the
        # same rounds in back-to-back JVMs settled nearly a quarter apart, and
        # kept drifting for over 30 s; with these, within a twentieth after
        # two rounds (see README, "What keeps it steady")
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            "-XX:TieredStopAtLevel=1 -XX:+UseParallelGC",
    }
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        shlex.quote(a) for a in args + ["pyspark-shell"])
    sys.path.insert(0, str(ROOT))
    import table_versions_spark

    # the benchmark measures the checkout it sits in, never an installed copy
    pkg = Path(table_versions_spark.__file__).resolve()
    if ROOT not in pkg.parents:
        raise SystemExit(f"table_versions_spark imported from {pkg}, "
                         f"not from {ROOT}")


def start_spark():
    from table_versions_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, never leave it running
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals, lo=None, hi=None) -> float:
    """Total length covered by ``intervals`` (clipped to [lo, hi])."""
    spans = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            spans.append((a, b))
    spans.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ---------------------------------------------------------------- recording

class Recorder:
    """Timed calls of one run. ``span`` times one public call with
    ``perf_counter``; with tracing on it also keeps the span (name, start,
    end, parent) in wall-clock seconds, so storage calls and Spark jobs
    can be attributed to it afterwards."""

    def __init__(self, trace: bool):
        self.trace = trace
        self.latencies: dict[str, list[float]] = {}
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, kind: str = "call", record: bool = True):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "kind": kind, "parent": parent,
               "start": time.time(), "end": None}
        if self.trace:
            self.spans.append(rec)
            self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            dt = time.perf_counter() - t0
            if self.trace:
                rec["end"] = time.time()
                self._stack.pop()
            if record:
                self.latencies.setdefault(name, []).append(dt)
            rec["seconds"] = dt


# ------------------------------------------------------- counting storage

_STORAGE_OPS = ("exists", "is_dir", "list_dir", "read_text", "open_input",
                "open_output", "file_size", "file_mtime", "write_atomic",
                "create_exclusive", "update_atomic", "delete", "makedirs",
                "publish_dir", "link_or_copy", "move_file", "remove_tree")


def counting_storage_class():
    """A ``LocalStorage`` that records every call: (op, path, start, end).
    Calls made from inside another recorded call (``update_atomic`` reading
    the pointer) are not counted twice. Thread-safe: ``_parallel_publish``
    calls it from worker threads."""
    from table_versions_spark.core.storage import LocalStorage

    class CountingStorage(LocalStorage):
        def __init__(self):
            self.calls: list[tuple] = []
            self._lock = threading.Lock()
            self._local = threading.local()

        def inside(self) -> bool:
            return getattr(self._local, "depth", 0) > 0

    def wrap(op):
        base = getattr(LocalStorage, op)

        def method(self, path, *args, **kwargs):
            depth = getattr(self._local, "depth", 0)
            self._local.depth = depth + 1
            t0 = time.time()
            try:
                return base(self, path, *args, **kwargs)
            finally:
                t1 = time.time()
                self._local.depth = depth
                if depth == 0:
                    with self._lock:
                        self.calls.append((op, str(path), t0, t1))

        method.__name__ = op
        return method

    for op in _STORAGE_OPS:
        setattr(CountingStorage, op, wrap(op))
    return CountingStorage


class BypassWatch:
    """Python audit hook that counts file-system calls on paths under
    ``root`` made outside the counting storage: metadata I/O that bypasses
    the ``storage=`` the engine was given. The benchmark's own walks run
    under ``own()`` and are not counted."""

    EVENTS = {"open", "os.listdir", "os.scandir", "os.rename", "os.link",
              "os.remove", "os.mkdir", "os.rmdir", "shutil.rmtree",
              "os.symlink", "os.truncate"}

    def __init__(self, root: str, storage):
        self.root = root
        self.storage = storage
        self.hits: list[tuple] = []
        self._local = threading.local()
        self.armed = False
        sys.addaudithook(self._hook)

    @contextlib.contextmanager
    def own(self):
        self._local.own = True
        try:
            yield
        finally:
            self._local.own = False

    def _hook(self, event, args):
        if not self.armed or event not in self.EVENTS or not args:
            return
        path = args[0]
        if not isinstance(path, str) or not path.startswith(self.root):
            return
        if getattr(self._local, "own", False) or self.storage.inside():
            return
        self.hits.append((event, path, time.time()))


def spark_jobs(spark) -> list[dict]:
    """Every job the session ran: id, task count, submit and end time in
    wall-clock seconds, read from the status store once the listener bus
    has drained."""
    sc = spark.sparkContext._jsc.sc()
    with contextlib.suppress(Exception):
        sc.listenerBus().waitUntilEmpty(30_000)
    out = []
    seq = sc.statusStore().jobsList(None)
    for j in (seq.apply(i) for i in range(seq.size())):
        sub, done = j.submissionTime(), j.completionTime()
        if not sub.isDefined():
            continue
        start = sub.get().getTime() / 1000.0
        end = done.get().getTime() / 1000.0 if done.isDefined() else start
        out.append({"id": j.jobId(), "tasks": j.numTasks(),
                    "start": start, "end": end})
    return out


def walk_files(root: str) -> dict[str, int]:
    """path -> size of every regular file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with contextlib.suppress(OSError):
                out[p] = os.path.getsize(p)
    return out


# ---------------------------------------------------------------- per layer

def layer_metrics(rounds: list[dict], storage, jobs,
                  bypass, reads_files, time_travel_calls) -> dict:
    """Per-round layer figures from the trace. ``rounds`` holds each
    round's span plus the files/bytes it added; ``reads_files`` the input
    file count of each read call; ``time_travel_calls`` the spans of the
    calls that fold the log at an older commit."""
    calls = storage.calls if storage is not None else []
    log_calls = [c for c in calls if LOG_DIR_MARK in c[1]]
    data_calls = [c for c in calls if LOG_DIR_MARK not in c[1]]

    def count(cs, ops, a, b):
        return sum(1 for c in cs if c[0] in ops and a <= c[2] < b)

    per = {k: [] for k in (
        "log.read_text_per_round", "log.list_dir_per_round",
        "log.writes_per_round", "log.busy_pct",
        "storage.links_per_round", "storage.moves_per_round",
        "storage.footer_opens_per_round", "storage.meta_calls_per_round",
        "storage.busy_pct", "storage.bypass_calls_per_round",
        "spark.jobs_per_round", "spark.tasks_per_round", "spark.busy_pct",
        "driver.self_pct", "table.files_added_per_round",
        "table.bytes_added_per_round")}
    data_ops = ("exists", "is_dir", "list_dir", "read_text", "file_size",
                "file_mtime", "write_atomic", "create_exclusive",
                "update_atomic", "delete", "makedirs", "remove_tree",
                "open_output")
    for r in rounds:
        a, b = r["start"], r["end"]
        wall = b - a
        log_iv = [(c[2], c[3]) for c in log_calls]
        data_iv = [(c[2], c[3]) for c in data_calls]
        job_iv = [(j["start"], j["end"]) for j in jobs]
        per["log.read_text_per_round"].append(
            count(log_calls, ("read_text",), a, b))
        per["log.list_dir_per_round"].append(
            count(log_calls, ("list_dir",), a, b))
        per["log.writes_per_round"].append(count(
            log_calls, ("write_atomic", "create_exclusive", "update_atomic"),
            a, b))
        per["log.busy_pct"].append(100 * union_length(log_iv, a, b) / wall)
        per["storage.links_per_round"].append(
            count(data_calls, ("link_or_copy",), a, b))
        per["storage.moves_per_round"].append(
            count(data_calls, ("move_file", "publish_dir"), a, b))
        per["storage.footer_opens_per_round"].append(
            count(data_calls, ("open_input",), a, b))
        per["storage.meta_calls_per_round"].append(
            count(data_calls, data_ops, a, b))
        per["storage.busy_pct"].append(
            100 * union_length(data_iv, a, b) / wall)
        per["storage.bypass_calls_per_round"].append(
            sum(1 for h in bypass if a <= h[2] < b))
        in_round = [j for j in jobs if a <= j["start"] < b]
        per["spark.jobs_per_round"].append(len(in_round))
        per["spark.tasks_per_round"].append(sum(j["tasks"] for j in in_round))
        per["spark.busy_pct"].append(100 * union_length(job_iv, a, b) / wall)
        busy = union_length(log_iv + data_iv + job_iv, a, b)
        per["driver.self_pct"].append(100 * (wall - busy) / wall)
        per["table.files_added_per_round"].append(r.get("files_added", 0))
        per["table.bytes_added_per_round"].append(r.get("bytes_added", 0))
    out = {k: median(v) for k, v in per.items()}
    out["read.files_per_read"] = (median(reads_files)
                                   if reads_files else 0)
    tt = [count(log_calls, ("read_text",), s["start"], s["end"])
          for s in time_travel_calls]
    out["log.read_text_per_time_travel"] = median(tt) if tt else 0
    return out


PER_LAYER_UNITS = {
    "log.read_text_per_round": "count",
    "log.list_dir_per_round": "count",
    "log.writes_per_round": "count",
    "log.busy_pct": "%",
    "log.read_text_per_time_travel": "count",
    "storage.links_per_round": "count",
    "storage.moves_per_round": "count",
    "storage.footer_opens_per_round": "count",
    "storage.meta_calls_per_round": "count",
    "storage.busy_pct": "%",
    "storage.bypass_calls_per_round": "count",
    "spark.jobs_per_round": "count",
    "spark.tasks_per_round": "count",
    "spark.busy_pct": "%",
    "driver.self_pct": "%",
    "table.files_added_per_round": "count",
    "table.bytes_added_per_round": "bytes",
    "read.files_per_read": "count",
}


def emit(result: dict) -> None:
    """The result line: the last line of standard output."""
    sys.stdout.write(json.dumps(result) + "\n")
    sys.stdout.flush()


def remove_tree(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)
