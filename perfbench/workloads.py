"""The three workloads. Each one builds its fixture, runs one untimed warm-up
of every call kind, then times whole rounds of the same calls until the
run's seconds are used, and checks every output against a model computed
apart from the program, outside the timed calls."""

from __future__ import annotations

import contextlib
import os
import sys
import time
import uuid

import numpy as np
import pandas as pd

import checks
import harness
import inputs

TABLE = "bench.events"
ROWS, DAYS = 12_000, 4        # versioned table: rows over daily partitions
APPEND_ROWS, MERGE_ROWS, MERGE_NEW = 200, 150, 50
LOG_DEPTH, LOG_PARTITIONS, ROUND_COMMITS, ROUND_TIME_TRAVELS = 1000, 100, 25, 4
ANALYTICS_IDS = ["q_tpch_q1", "q_tpch_q3", "q_window_rank", "q_asof_join",
                 "q_tfidf", "q_knn_join"]
MIN_ROUNDS = 3
# untimed warm-up rounds of the Spark workloads: after one, each further
# round still ran about a tenth faster (the JVM keeps compiling), so a
# run's medians depended on how many rounds it fitted
SPARK_WARMUP_ROUNDS = 3
COMMIT_KINDS = ["insert", "append", "delete_dv", "update_dv", "merge",
                "delete_rewrite"]
READ_KINDS = ["read", "read_at_commit", "lookup", "read_changes"]
ONCE_KINDS = ["compact", "restore"]  # once per run, after the rounds
LOG_KINDS = ["commit", "current_version_at", "current_version", "updates"]

FAILED = object()


class Run:
    """One benchmark run: timed calls, rounds, checks and failure counts."""

    def __init__(self, seed: int, seconds: float, trace: bool, work):
        self.seed, self.seconds, self.trace, self.work = seed, seconds, trace, work
        self.rng = np.random.default_rng(seed)
        self.rec = harness.Recorder(trace)
        self.kinds: list[str] = []
        self.rounds: list[dict] = []
        self.errors: list[str] = []
        self.attempted = self.failed = 0
        self.first_timed: float | None = None
        self.warm = True
        self.storage = None
        self.bypass = None
        self.reads_files: list[int] = []
        self.time_travel_calls: list[dict] = []
        self.detail: dict = {}
        self.jobs: list[dict] = []

    # -- calls -----------------------------------------------------------

    def op(self, name: str, fn, *args, **kwargs):
        """One timed call (untimed while warming up). A call that raises
        counts as failed and returns ``FAILED``."""
        if not self.warm:
            self.attempted += 1
            if self.first_timed is None:
                self.first_timed = time.perf_counter()
        try:
            with self.rec.span(name, record=not self.warm) as span:
                out = fn(*args, **kwargs)
        except Exception as e:  # noqa: BLE001 - counted, reported, carried on
            if self.warm:
                raise
            self.failed += 1
            print(f"[perfbench] {name} failed: {type(e).__name__}: {e}",
                  file=sys.stderr)
            return FAILED
        if not self.warm and name in ("read_at_commit", "current_version_at"):
            self.time_travel_calls.append(span)
        return out

    def mark(self, phase: str) -> None:
        """Note when a set-up phase ended; the run's record gives it in
        seconds since process start."""
        self.detail.setdefault("phases", {})[phase] = time.perf_counter()

    def check(self, message) -> None:
        if message:
            self.errors.append(message)
            print(f"[perfbench] check failed: {message}", file=sys.stderr)

    @contextlib.contextmanager
    def round(self, table_dir: str | None = None):
        before = self._walk(table_dir)
        with self.rec.span("round", kind="round", record=False) as r:
            yield
        if self.warm:
            return
        entry = {"start": r["start"], "end": time.time(),
                 "seconds": r["seconds"]}
        if before is not None:
            after = self._walk(table_dir)
            added = set(after) - set(before)
            entry["files_added"] = len(added)
            entry["bytes_added"] = sum(after[p] for p in added)
        self.rounds.append(entry)

    def _walk(self, table_dir):
        if not self.trace or table_dir is None:
            return None
        with self.bypass.own() if self.bypass else contextlib.nullcontext():
            return harness.walk_files(table_dir)

    def time_left(self) -> bool:
        """Whole rounds: at least ``MIN_ROUNDS``, then until the run's
        seconds are used."""
        return (len(self.rounds) < MIN_ROUNDS
                or sum(r["seconds"] for r in self.rounds) < self.seconds)

    def start_timing(self) -> None:
        self.warm = False
        if self.bypass is not None:
            self.bypass.armed = True

    # -- result ------------------------------------------------------------

    def end_to_end(self, process_start: float) -> dict:
        lat = self.rec.latencies
        per_kind = {k: harness.median(lat[k]) for k in self.kinds if k in lat}
        self.detail["kind_median_s"] = per_kind
        self.detail["kind_calls"] = {k: len(lat.get(k, [])) for k in self.kinds}
        self.detail["latencies_s"] = {k: lat[k] for k in self.kinds if k in lat}
        self.detail["round_s"] = [r["seconds"] for r in self.rounds]
        return {
            "setup_s": (self.first_timed - process_start, "s"),
            "round_s": (harness.median([r["seconds"] for r in self.rounds]),
                        "s"),
            "kind_geomean_ms": (1000 * harness.geomean(per_kind.values()),
                                "ms"),
        }

    def per_layer(self, spark) -> dict:
        jobs = harness.spark_jobs(spark) if spark is not None else []
        self.jobs = jobs
        out = harness.layer_metrics(
            self.rounds, self.storage, jobs,
            self.bypass.hits if self.bypass else [], self.reads_files,
            self.time_travel_calls)
        return {k: (v, harness.PER_LAYER_UNITS[k]) for k, v in out.items()}

    def trace_dump(self) -> dict:
        """Spans, Spark jobs, storage call counts by (layer, op) and any
        file-system call that bypassed the storage backend."""
        counts: dict[str, int] = {}
        for op, path, _a, _b in (self.storage.calls if self.storage else []):
            layer = "log" if harness.LOG_DIR_MARK in path else "storage"
            counts[f"{layer}.{op}"] = counts.get(f"{layer}.{op}", 0) + 1
        return {"spans": self.rec.spans, "jobs": self.jobs,
                "storage_call_counts": counts,
                "bypass": self.bypass.hits if self.bypass else []}


# ------------------------------------------------------- versioned table

def _engine(run: Run, spark):
    from table_versions_spark import VersionedEngine
    from table_versions_spark.core.storage import LocalStorage

    wh = str(run.work / "warehouse")
    if run.trace:
        run.storage = harness.counting_storage_class()()
        run.bypass = harness.BypassWatch(wh, run.storage)
        storage = run.storage
    else:
        storage = LocalStorage()
    return VersionedEngine(spark, wh, storage=storage)


def _load_table(run: Run, spark, eng):
    """Create the bloom table and load it; (rows, load commit id)."""
    rows = inputs.events_table(run.rng, ROWS, DAYS)
    eng.create_table(TABLE, schema_ddl=inputs.EVENTS_DDL,
                     partition_columns=["event_date"],
                     bloom_columns=["user_id"])
    done = eng.insert(spark.createDataFrame(rows, inputs.EVENTS_DDL), TABLE,
                      "bench", "load")
    return rows, done.commit_id


class CommitDriver:
    """Seeded commit calls against the versioned table, with the pandas
    model carried alongside. ``states`` maps each commit id to the model
    state it should hold. The model follows a commit only after the timed
    calls, from the commit id the call returned."""

    def __init__(self, run: Run, spark, eng, model: pd.DataFrame,
                 commit_id: str):
        self.run, self.spark, self.eng, self.model = run, spark, eng, model
        self.next_id = 10_000_000
        self.states: dict[str, pd.DataFrame] = {commit_id: model}
        self.commits: list[str] = [commit_id]

    def record(self, result, model: pd.DataFrame) -> None:
        self.model = model
        self.states[result.commit_id] = model
        self.commits.append(result.commit_id)

    def _new_rows(self, n: int, days: int) -> pd.DataFrame:
        rows = inputs.events_table(self.run.rng, n, days, self.next_id)
        self.next_id += n
        return rows

    def _df(self, rows):
        return self.spark.createDataFrame(rows, inputs.EVENTS_DDL)

    def prepare(self, kind: str, model: pd.DataFrame):
        """Inputs of one call, made before the timer starts: (call, model
        update). ``model`` is the state the call will meet; merge samples
        its matched rows from it."""
        rng, eng = self.run.rng, self.eng
        if kind == "insert":
            d = int(rng.integers(0, DAYS))
            rows = self._new_rows(ROWS // DAYS, 1)
            rows["event_date"] = inputs.day(d)
            df = self._df(rows)
            return (lambda: eng.insert(df, TABLE, "bench", "overwrite day"),
                    lambda m: checks.overwrite(m, rows))
        if kind == "append":
            rows = self._new_rows(APPEND_ROWS, DAYS)
            df = self._df(rows)
            return (lambda: eng.insert(df, TABLE, "bench", "append",
                                       mode="append"),
                    lambda m: checks.append(m, rows))
        if kind in ("delete_dv", "delete_rewrite"):
            modulus = 97 if kind == "delete_dv" else 83
            rest = int(rng.integers(0, modulus))
            mode = "dv" if kind == "delete_dv" else "rewrite"
            return (lambda: eng.delete(TABLE, f"user_id % {modulus} = {rest}",
                                       "bench", kind, mode=mode),
                    lambda m: checks.delete(m, modulus, rest))
        if kind == "update_dv":
            rest = int(rng.integers(0, 89))
            return (lambda: eng.update(TABLE, {"value": "value * 2"},
                                       f"user_id % 89 = {rest}", "bench",
                                       "double", mode="dv"),
                    lambda m: checks.double_value(m, 89, rest))
        if kind == "merge":
            hit = model.sample(
                MERGE_ROWS, random_state=int(rng.integers(0, 2**31)))
            hit = hit.assign(value=hit["value"] + 1.25)
            rows = pd.concat([hit[checks.COLUMNS],
                              self._new_rows(MERGE_NEW, DAYS)],
                             ignore_index=True)
            df = self._df(rows)
            return (lambda: eng.merge(df, TABLE, ["event_id"], "bench",
                                      "merge"),
                    lambda m: checks.merge(m, rows))
        raise ValueError(kind)

    def head_rows(self) -> pd.DataFrame:
        return self.eng.read(TABLE).toPandas()

    def check_head(self, what: str) -> None:
        self.run.check(checks.same_rows(self.head_rows(), self.model, what))


def _aggregate(df) -> dict:
    from pyspark.sql import functions as F

    rows = (df.groupBy("event_type")
              .agg(F.count("*").alias("n"), F.sum("event_id").alias("ids"),
                   F.sum("user_id").alias("users"),
                   F.sum("value").alias("value"))
              .collect())
    return {r["event_type"]: (r["n"], r["ids"], r["users"], r["value"])
            for r in rows}


def versioned(run: Run, spark) -> None:
    """Rounds of the six commit kinds, then the four read kinds over the
    files those commits laid out and the history they made."""
    from pyspark.sql import functions as F

    from table_versions_spark.core.model import TableName

    run.kinds = COMMIT_KINDS + READ_KINDS + ONCE_KINDS
    eng = _engine(run, spark)
    driver = CommitDriver(run, spark, eng, *_load_table(run, spark, eng))
    run.mark("fixture")
    table_dir = eng.table_location(TableName.parse(TABLE))
    commits, states, rng = driver.commits, driver.states, run.rng

    def read_call(kind, plan, action):
        """Time the lazy plan and its action as one call; with tracing on,
        keep their split and the scan's input file count."""
        holder = {}

        def call():
            with run.rec.span(kind + ".plan", kind="plan", record=False):
                holder["df"] = plan()
            with run.rec.span(kind + ".exec", kind="exec", record=False):
                return action(holder["df"])

        out = run.op(kind, call)
        if run.trace and not run.warm and out is not FAILED:
            run.reads_files.append(len(holder["df"].inputFiles()))
        return out

    def reads(since, until, user):
        """The state one round back, and the change feed over the round
        just made: the same shape of history in every run and round."""
        head = read_call("read", lambda: eng.read(TABLE), _aggregate)
        past = read_call("read_at_commit",
                         lambda: eng.read(TABLE, at_commit=since), _aggregate)
        hits = read_call(
            "lookup",
            lambda: eng.read(TABLE, stats_filter={"user_id": user})
                       .where(F.col("user_id") == user),
            lambda df: df.toPandas())
        feed = read_call(
            "read_changes",
            lambda: eng.read_changes(TABLE, since, until, row_level=True),
            lambda df: df.toPandas())
        return head, past, hits, feed

    def check_reads(since, until, user, head, past, hits, feed):
        model = driver.model
        if head is not FAILED:
            run.check(checks.same_aggregate(
                head, checks.aggregate(model), "head aggregate"))
        if past is not FAILED:
            run.check(checks.same_aggregate(
                past, checks.aggregate(states[since]),
                f"aggregate at commit {commits.index(since)}"))
        if hits is not FAILED:
            run.check(checks.same_rows(
                hits, model[model["user_id"] == user], f"lookup user {user}"))
        if feed is not FAILED:
            run.check(checks.same_changes(
                feed, states[since], states[until],
                f"changes {commits.index(since)}..{commits.index(until)}"))

    def one_round():
        # inputs made before the round, each from the model state its call
        # will meet; the model follows the commits after the round
        prepared, m = [], driver.model
        for kind in COMMIT_KINDS:
            call, update = driver.prepare(kind, m)
            prepared.append((kind, call, update))
            m = update(m)
        since, user = commits[-1], int(rng.integers(0, inputs.N_USERS))
        with run.round(table_dir):
            done = [(update, run.op(kind, call))
                    for kind, call, update in prepared]
            made = [r.commit_id for _u, r in done if r is not FAILED]
            until = made[-1] if made else since
            got = reads(since, until, user)
        for update, result in done:
            if result is not FAILED:
                driver.record(result, update(driver.model))
        driver.check_head(f"head after round {len(run.rounds)}")
        check_reads(since, until, user, *got)

    for _ in range(SPARK_WARMUP_ROUNDS):
        one_round()                      # warm-up, untimed
    run.mark("warm-up")
    run.start_timing()
    while run.time_left():
        one_round()
    # once per run: compaction and restores, timed as kinds of their own
    done = run.op("compact", eng.compact, TABLE, "bench")
    if done is not FAILED:
        driver.record(done, driver.model)
        driver.check_head("head after compact")
    for _ in range(2):
        target = commits[int(rng.integers(1, len(commits) - 1))]
        done = run.op("restore", eng.restore, TABLE, target, "bench")
        if done is not FAILED:
            driver.record(done, states[target])
            driver.check_head("head after restore")


# -------------------------------------------------------------- log depth

def _link_commit_files(src: str, dst: str) -> None:
    """Copy function for a round's copy of the fixture log: commit files
    (``<seq>.json``), which the log claims once and never rewrites, are
    hard links; every other file (pointer, checkpoints, lock) is copied."""
    import shutil

    name = os.path.basename(src)
    if name.endswith(".json") and name[:-len(".json")].isdigit():
        os.link(src, dst)
    else:
        shutil.copyfile(src, dst)


def log_depth(run: Run, spark) -> None:
    """Every round works on its own copy of the same fixture log, so every
    round and every run measures the log at the same depth."""
    import shutil

    from table_versions_spark.core.log import FileTableVersions
    from table_versions_spark.core.model import (
        AddPartitionVersion,
        Partition,
        TableName,
        TableUpdate,
        TableUpdateMetadata,
        Version,
    )
    from table_versions_spark.core.storage import LocalStorage

    run.kinds = LOG_KINDS
    rng = run.rng
    root = run.work / "log"
    fixture = str(root / "fixture")
    if run.trace:
        run.storage = harness.counting_storage_class()()
        run.bypass = harness.BypassWatch(str(root), run.storage)
    storage = run.storage or LocalStorage()
    name = TableName("bench", "log")
    log = FileTableVersions(fixture, storage=storage)
    log.init(name, False, "bench", "init")
    messages = ["init"]
    issued: list[tuple[str, str]] = []   # (partition, label) per commit
    ids: list[str] = []                  # commit id per seq; seq 0 = init
    ids.append(log.updates(name)[0].commit_id)
    commit_s: list[float] = []

    def commit(log):
        i = len(issued) + 1
        part = Partition.of(("event_date",
                             f"p{int(rng.integers(0, LOG_PARTITIONS)):03d}"))
        version = Version(epoch_seconds=1_700_000_000 + i, nanos=i,
                          uuid=str(uuid.UUID(int=int(rng.integers(0, 2**62)))))
        meta = TableUpdateMetadata.create("bench", f"commit {i}")
        update = TableUpdate(meta, (AddPartitionVersion(part, version),))
        t0 = time.perf_counter()
        if run.op("commit", log.commit, name, update) is FAILED:
            return
        commit_s.append(time.perf_counter() - t0)
        issued.append((part.render(), version.label))
        messages.append(meta.message)
        ids.append(meta.commit_id)

    for _ in range(LOG_DEPTH):           # the deep log, built untimed
        commit(log)
    run.detail["commit_ms_shallow"] = 1000 * harness.median(commit_s[:200])
    run.detail["commit_ms_deep"] = 1000 * harness.median(commit_s[-200:])
    run.mark("fixture")
    base = (list(issued), list(messages), list(ids))

    def one_round(n):
        loc = str(root / f"round{n}")
        with run.bypass.own() if run.bypass else contextlib.nullcontext():
            shutil.copytree(fixture, loc, copy_function=_link_commit_files)
        copy = FileTableVersions(loc, storage=storage)
        issued[:], messages[:], ids[:] = (list(x) for x in base)
        seqs = [int(s) for s in rng.integers(1, len(ids), ROUND_TIME_TRAVELS)]
        with run.round(loc):
            for _ in range(ROUND_COMMITS):
                commit(copy)
            past = [run.op("current_version_at", copy.current_version, name,
                           at_commit=ids[s]) for s in seqs]
            head = run.op("current_version", copy.current_version, name)
            hist = run.op("updates", copy.updates, name)
        for s, v in zip(seqs, past):
            if v is not FAILED:
                run.check(checks.same_fold(v, issued, s, f"fold at seq {s}"))
        if head is not FAILED:
            run.check(checks.same_fold(head, issued, len(issued), "head fold"))
        if hist is not FAILED:
            run.check(checks.same_messages(hist, messages, "updates()"))
        with run.bypass.own() if run.bypass else contextlib.nullcontext():
            shutil.rmtree(loc)

    one_round(0)                         # warm-up, untimed
    run.mark("warm-up")
    run.start_timing()
    while run.time_left():
        one_round(len(run.rounds) + 1)
    run.detail["depth"] = LOG_DEPTH


# -------------------------------------------------------------- analytics

def analytics(run: Run, spark) -> None:
    """Timed rounds of the operator ids; each id's warm-up output is checked
    against its DuckDB oracle after the timed rounds, so the oracle's time
    stays out of the run's set-up."""
    sys.path.insert(0, str(harness.ROOT))
    import __spark_entry__ as entry

    run.kinds = ANALYTICS_IDS
    data = run.work / "data"
    inputs.write_analytics_tables(run.rng, data)
    run.mark("fixture")
    queries = entry.queries()
    # warm-up visit of every id; its collected rows are the checked output
    warm = {}
    for qid in ANALYTICS_IDS:
        sdf = queries[qid](spark, str(data))
        warm[qid] = (sdf.columns, [tuple(r) for r in sdf.collect()])

    def run_id(qid):
        queries[qid](spark, str(data)).write.format("noop") \
            .mode("overwrite").save()

    for _ in range(SPARK_WARMUP_ROUNDS - 1):
        for qid in ANALYTICS_IDS:
            run_id(qid)
    run.mark("warm-up")
    run.start_timing()
    while run.time_left():
        with run.round():
            for qid in ANALYTICS_IDS:
                run.op(qid, run_id, qid)
    check_oracles(run, data, warm, entry.oracle_sql())


def check_oracles(run: Run, data, warm: dict, oracles: dict) -> None:
    """Each id's rows against its ``oracle_sql()`` on DuckDB over the same
    parquet files."""
    import duckdb

    con = duckdb.connect()
    for t in sorted(p.stem for p in data.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data / t}.parquet')")
    for qid, (columns, rows) in warm.items():
        rel = con.sql(oracles[qid])
        run.check(checks.same_result(columns, rows, list(rel.columns),
                                     rel.fetchall(), qid,
                                     checks.rounded_columns(oracles[qid])))
    con.close()


WORKLOADS = {"versioned": versioned, "log_depth": log_depth,
             "analytics": analytics}
NEEDS_SPARK = {"versioned", "analytics"}
