"""Traced mode: spans and counters at each layer boundary, from outside.

Everything here wraps or reads the program from the benchmark's side:
the program's functions are wrapped where the plan modules bind them,
py4j's client send is counted, and Spark's own status store, executed
plan and streaming progress events are read after each query. Spans are
kept in memory and written out once, at the end of the run.

A span is ``{"id", "parent", "name", "start", "end"}`` with times in
seconds on the benchmark's clock (``time.perf_counter``); Spark job and
micro-batch spans are placed on that clock from their wall-clock times.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time

import py4j.java_gateway

from perfbench import stats

MB = 1 << 20

# Measured once per run, not per pass.
RUN_LEVEL = [
    ("session.start_s", "s"),
    ("session.tmp_left_mb", "MB"),
    ("session.peak_rss_mb", "MB"),
]
PER_PASS = [
    ("plans.build_s", "s"),
    ("plans.build_jobs", "count"),
    ("plans.py4j_calls", "count"),
    ("catalog.load_calls", "count"),
    ("catalog.load_s", "s"),
    ("spark.plan_s", "s"),
    ("spark.action_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"),
    ("spark.task_run_s", "s"),
    ("spark.task_cpu_s", "s"),
    ("spark.jvm_gc_s", "s"),
    ("spark.input_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.storage_mb", "MB"),
    ("operators.python_rows", "rows"),
    ("operators.python_mb", "MB"),
    ("operators.python_worker_cpu_s", "s"),
    ("materialize.calls", "count"),
    ("streaming.batches", "count"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.query_planning_ms", "ms"),
    ("streaming.latest_offset_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.commit_offsets_ms", "ms"),
    ("streaming.state_rows", "rows"),
    ("streaming.state_memory_mb", "MB"),
    ("streaming.state_commit_ms", "ms"),
    ("streaming.leaked_views", "count"),
]
PYTHON_EXECS = (
    "ArrowEvalPythonExec",
    "MapInPandasExec",
    "FlatMapGroupsInPandasExec",
    "FlatMapCoGroupsInPandasExec",
)
CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out += [int(c) for c in f.read().split()]
        except OSError:
            continue
    return out


def _cpu_s(pid: int, with_children: bool) -> float:
    """utime+stime of a process, plus that of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    ticks = int(fields[11]) + int(fields[12])
    if with_children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks / CLK_TCK


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU time of the Python worker processes the JVM has started.

    The JVM forks ``pyspark.daemon``, which forks the workers; a worker
    that has ended is counted in its daemon's reaped-children time."""
    total = 0.0
    for pid in _proc_children(jvm_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark" not in cmd:
            continue
        total += _cpu_s(pid, with_children=True)
        total += sum(_cpu_s(c, with_children=False) for c in _proc_children(pid))
    return total


def drain(spark) -> None:
    """Wait until Spark's listener bus has delivered every event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(root, name)).st_size
            except OSError:
                continue
    return total / MB


class Tracer:
    """Records spans and per-query counters for one traced run."""

    def __init__(self, spark, progress, jvm_pid: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.progress = progress
        self.jvm_pid = jvm_pid
        self.spans: list[dict] = []
        self.queries: list[dict] = []
        self.passes: list[dict] = []
        self.counts = {"py4j": 0, "load_calls": 0, "load_s": 0.0, "materialize": 0}
        self._unwrap: list = []
        self._seen_jobs: set[int] = set()
        self.wall_offset = time.time() - time.perf_counter()

    # -- wrapping the program's entry points ---------------------------
    def install(self) -> None:
        """Wrap ``catalog.load_table`` and ``materialize.materialize``
        wherever a module of the program bound them, and count py4j
        round trips."""
        from whisky_wine_etl_spark import catalog, materialize

        counts = self.counts
        load_table, mat = catalog.load_table, materialize.materialize

        @functools.wraps(load_table)
        def traced_load_table(*a, **kw):
            t0 = time.perf_counter()
            try:
                return load_table(*a, **kw)
            finally:
                counts["load_calls"] += 1
                counts["load_s"] += time.perf_counter() - t0

        @functools.wraps(mat)
        def traced_materialize(*a, **kw):
            counts["materialize"] += 1
            return mat(*a, **kw)

        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("whisky_wine_etl_spark"):
                continue
            for attr, orig, new in (
                ("load_table", load_table, traced_load_table),
                ("materialize", mat, traced_materialize),
            ):
                if getattr(mod, attr, None) is orig:
                    setattr(mod, attr, new)
                    self._unwrap.append((mod, attr, orig))

        send = py4j.java_gateway.GatewayClient.send_command

        @functools.wraps(send)
        def counted_send(client, *a, **kw):
            counts["py4j"] += 1
            return send(client, *a, **kw)

        py4j.java_gateway.GatewayClient.send_command = counted_send
        self._unwrap.append((py4j.java_gateway.GatewayClient, "send_command", send))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._unwrap):
            setattr(obj, attr, orig)
        self._unwrap.clear()

    # -- spans -----------------------------------------------------------
    def span(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": parent, "name": name, "start": start, "end": end, **attrs})
        return sid

    # -- one query -------------------------------------------------------
    def run_query(self, name: str, fn, data_dir: str, pass_no: int):
        """Build, plan and run one query, recording spans and counters.
        Returns the DataFrame's columns and rows."""
        sc, tracker = self.sc, self.sc.statusTracker()
        sc.setJobGroup(name, name)
        c0 = dict(self.counts)
        ev0 = len(self.progress.events)
        t0 = time.perf_counter()
        df = fn(self.spark, data_dir)
        t1 = time.perf_counter()
        py4j_build = self.counts["py4j"] - c0["py4j"]
        build_jobs = self._new_jobs(tracker, name, ev0)
        tp = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        rows = df.collect()
        t3 = time.perf_counter()
        jobs = build_jobs + self._new_jobs(tracker, name, ev0)
        sc.setJobGroup(None, None)
        q = {
            "query": name,
            "pass": pass_no,
            "plans.build_s": t1 - t0,
            "plans.build_jobs": len(build_jobs),
            "plans.py4j_calls": py4j_build,
            "catalog.load_calls": self.counts["load_calls"] - c0["load_calls"],
            "catalog.load_s": self.counts["load_s"] - c0["load_s"],
            "materialize.calls": self.counts["materialize"] - c0["materialize"],
            "spark.plan_s": t2 - tp,
            "spark.action_s": t3 - t2,
        }
        qid = self.span(name, t0, t3, None, kind="query", **{"pass": pass_no})
        self.span("build", t0, t1, qid)
        self.span("plan", tp, t2, qid)
        self.span("action", t2, t3, qid)
        q.update(self._job_counters(jobs, qid))
        q.update(self._python_counters(df))
        q.update(self._stream_counters(self.progress.events[ev0:], qid))
        self.queries.append(q)
        return df.columns, rows

    def _temp_views(self) -> set[str]:
        # listing the catalog runs a Spark job: keep it out of the
        # ungrouped jobs that are attributed to the next query
        self.sc.setJobGroup("perfbench", "catalog listing")
        try:
            return {t.name for t in self.spark.catalog.listTables() if t.isTemporary}
        finally:
            self.sc.setJobGroup(None, None)

    def _new_jobs(self, tracker, group: str, ev0: int) -> list[int]:
        """Jobs started since the last call: those in the query's job
        group, those in no group and, since a stream runs its micro-batch
        jobs on its own thread in a job group named by its run id, those
        of every stream run the query started."""
        drain(self.spark)
        groups = {group, None} | {e["runId"] for e in self.progress.events[ev0:]}
        ids = set().union(*(tracker.getJobIdsForGroup(g) for g in groups))
        new = sorted(ids - self._seen_jobs)
        self._seen_jobs |= ids
        return new

    def _job_counters(self, jobs: list[int], parent: int) -> dict:
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        c = dict.fromkeys(
            ("spark.stages", "spark.tasks", "spark.failed_tasks", "spark.task_run_s", "spark.task_cpu_s",
             "spark.jvm_gc_s", "spark.input_mb", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
             "spark.spill_mb"),
            0.0,
        )
        c["spark.jobs"] = len(jobs)
        for j in jobs:
            info = tracker.getJobInfo(j)
            jd = store.job(j)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                start = jd.submissionTime().get().getTime() / 1000 - self.wall_offset
                end = jd.completionTime().get().getTime() / 1000 - self.wall_offset
                self.span(f"job {j}", start, end, parent, kind="job")
            for s in info.stageIds if info else []:
                sd = store.lastStageAttempt(s)
                if str(sd.status()) == "SKIPPED":
                    continue
                c["spark.stages"] += 1
                c["spark.tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                c["spark.failed_tasks"] += sd.numFailedTasks()
                c["spark.task_run_s"] += sd.executorRunTime() / 1e3
                c["spark.task_cpu_s"] += sd.executorCpuTime() / 1e9
                c["spark.jvm_gc_s"] += sd.jvmGcTime() / 1e3
                c["spark.input_mb"] += sd.inputBytes() / MB
                c["spark.shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                c["spark.shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                c["spark.spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
        return c

    def _python_counters(self, df) -> dict:
        """SQL metrics of the Python exec nodes of the executed plan."""
        rows = sent = 0

        def walk(p):
            nonlocal rows, sent
            name = p.getClass().getSimpleName()
            if name in PYTHON_EXECS:
                m = p.metrics()
                for key in ("pythonNumRowsReceived",):
                    if m.contains(key):
                        rows += m.apply(key).value()
                for key in ("pythonDataSent", "pythonDataReceived"):
                    if m.contains(key):
                        sent += m.apply(key).value()
            if name == "AdaptiveSparkPlanExec":
                walk(p.executedPlan())
                return
            if name.endswith("QueryStageExec"):
                walk(p.plan())
            ch = p.children()
            for i in range(ch.size()):
                walk(ch.apply(i))

        walk(df._jdf.queryExecution().executedPlan())
        return {"operators.python_rows": rows, "operators.python_mb": sent / MB}

    def _stream_counters(self, events: list[dict], parent: int) -> dict:
        c = {
            "streaming.batches": len(events),
            "streaming.add_batch_ms": 0,
            "streaming.query_planning_ms": 0,
            "streaming.latest_offset_ms": 0,
            "streaming.wal_commit_ms": 0,
            "streaming.commit_offsets_ms": 0,
            "streaming.state_commit_ms": 0,
        }
        last_state: dict[str, tuple[int, int]] = {}
        for e in events:
            d = e["durationMs"]
            c["streaming.add_batch_ms"] += d.get("addBatch", 0)
            c["streaming.query_planning_ms"] += d.get("queryPlanning", 0)
            c["streaming.latest_offset_ms"] += d.get("latestOffset", 0)
            c["streaming.wal_commit_ms"] += d.get("walCommit", 0)
            c["streaming.commit_offsets_ms"] += d.get("commitOffsets", 0)
            c["streaming.state_commit_ms"] += sum(s["commitTimeMs"] for s in e["state"])
            last_state[e["id"]] = (
                sum(s["numRowsTotal"] for s in e["state"]),
                sum(s["memoryUsedBytes"] for s in e["state"]),
            )
            end = e["wall_end"] - self.wall_offset
            self.span(f"batch {e['batchId']}", end - d.get("triggerExecution", 0) / 1e3, end, parent,
                      kind="micro-batch", rows=e["numInputRows"])
        c["streaming.state_rows"] = sum(r for r, _ in last_state.values())
        c["streaming.state_memory_mb"] = sum(m for _, m in last_state.values()) / MB
        return c

    # -- passes ------------------------------------------------------------
    def start_pass(self) -> None:
        self._pass_views0 = self._temp_views()
        self._pass_cpu0 = python_worker_cpu_s(self.jvm_pid)
        self._pass_q0 = len(self.queries)

    def end_pass(self, pass_no: int, timed: bool) -> None:
        storage = sum(r.memSize() + r.diskSize() for r in self.sc._jsc.sc().getRDDStorageInfo())
        totals = {k: 0.0 for k, _ in PER_PASS}
        for q in self.queries[self._pass_q0:]:
            for k, v in q.items():
                if k in totals:
                    totals[k] += v
        totals["spark.storage_mb"] = storage / MB
        totals["streaming.leaked_views"] = len(self._temp_views() - self._pass_views0)
        totals["operators.python_worker_cpu_s"] = python_worker_cpu_s(self.jvm_pid) - self._pass_cpu0
        self.passes.append({"pass": pass_no, "timed": timed, **totals})

    def per_layer(self, run_level: dict[str, float]) -> dict:
        """The run-level values, and the median over the timed passes of
        each per-pass counter."""
        timed = [p for p in self.passes if p["timed"]]
        out = {name: {"value": run_level[name], "unit": unit} for name, unit in RUN_LEVEL}
        for name, unit in PER_PASS:
            out[name] = {"value": stats.median([p[name] for p in timed]), "unit": unit}
        return out

    def write(self, path: str, meta: dict, per_layer: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**meta, "per_layer": per_layer, "passes": self.passes,
                       "queries": self.queries, "spans": self.spans}, f, indent=1)
