"""perfbench: end-to-end and per-layer benchmark of the query engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload headline --seed 1 --seconds 6 --trace 0

One run is one fresh process: it generates the workload's inputs from the
seed, starts a session with ``session.get_spark`` on ``local[<cpus>]``,
runs the workload's query list in an untimed warm-up pass, then in whole
timed passes until ``--seconds`` have passed, and at least two, with one
client in a closed loop. A query is ``plans.QUERIES[name](spark,
data_dir)`` followed by ``collect()`` on the returned DataFrame. Every
query's rows are then checked against its DuckDB oracle or a named
property (``check.py``).

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of ``trace.py`` with ``--trace 1``.
A traced run also writes its spans to ``perfbench-out/``.
"""

from __future__ import annotations

import os
import sys
import time


def _process_start() -> float:
    """Wall-clock time at which this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


PROCESS_START = _process_start()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import check, datagen, stats  # noqa: E402
from perfbench.trace import Tracer, dir_mb, drain  # noqa: E402
from perfbench.workloads import STREAMS_WHOLE_TABLE, WORKLOADS  # noqa: E402

# Untimed passes before the timed ones. The first pays one-time work
# (fixture writes, Python worker start) and takes about four times as
# long as a warm pass; a run's time budget leaves room for one.
WARMUP_PASSES = 1
# Each metric is a median over the timed passes, so a run times at
# least this many, even when they outlast --seconds. The passes still
# get faster after the first warm-up pass, so the metrics move with the
# pass count; a --seconds shorter than two passes keeps it fixed.
MIN_TIMED_PASSES = 2


def _isolate(run_dir: str) -> dict[str, str]:
    """Give the run its own temp, Spark-local and checkpoint directories,
    and put the checkout on the path of every Python process, including
    the workers that Spark starts."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "spark-local", "work")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["SPARK_GRAFT_STREAM_CHK_BASE"] = dirs["tmp"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    tempfile.tempdir = None
    os.chdir(dirs["work"])  # spark-warehouse, derby.log and friends land here
    return dirs


class StreamProgress:
    """Collects the progress event of every micro-batch."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        self.events: list[dict] = []
        events = self.events

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                e = {
                    "id": str(p.id),
                    "runId": str(p.runId),
                    "batchId": p.batchId,
                    "numInputRows": p.numInputRows,
                    "durationMs": dict(p.durationMs),
                    "state": [
                        {
                            "numRowsTotal": s.numRowsTotal,
                            "memoryUsedBytes": s.memoryUsedBytes,
                            "commitTimeMs": s.commitTimeMs,
                        }
                        for s in p.stateOperators
                    ],
                    "wall_end": time.time(),
                }
                events.append(e)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _steal_s() -> float:
    """CPU time the hypervisor took from this machine's CPUs, per CPU."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") / os.cpu_count()


def _stop(spark) -> None:
    """Stop the session and wait until the JVM, and with it the Python
    workers it started, has exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def run(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    w = WORKLOADS[workload]
    run_dir = os.path.join(ROOT, ".perfbench-runs", f"{workload}-s{seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        return _run(w, seed, seconds, traced, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:  # another run's directory is still there
            pass


def _run(w, seed: int, seconds: float, traced: bool, run_dir: str) -> dict:
    dirs = _isolate(run_dir)
    data_dir = os.path.join(run_dir, "data")
    from whisky_wine_etl_spark import plans
    from whisky_wine_etl_spark.session import get_spark

    g0 = time.time()
    rows_per_table = datagen.build(data_dir, w.scale, seed, w.tables)
    gen_s = time.time() - g0
    plans.load_all()
    unknown = [q for q in w.queries if q not in plans.QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries in workload {w.name}: {unknown}")

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{w.name}", cpus=_cpus())
    session_start_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    progress = StreamProgress()
    spark.streams.addListener(progress.listener)
    tracer = None
    if traced:
        tracer = Tracer(spark, progress, jvm_pid)
        tracer.install()

    errors: dict[str, str] = {}
    digests: dict[str, set[str]] = {q: set() for q in w.queries}
    last_rows: dict[str, tuple[list[str], list]] = {}
    stream_rows: dict[str, list[int]] = {q: [] for q in w.queries if q in STREAMS_WHOLE_TABLE}
    per_query: dict[str, list[float]] = {q: [] for q in w.queries}
    pass_times: list[float] = []
    pass_batches: list[list[dict]] = []
    attempted = failed = 0

    def one_pass(pass_no: int, timed: bool) -> None:
        nonlocal attempted, failed
        if tracer:
            tracer.start_pass()
        ev0 = len(progress.events)
        results = []
        p0 = time.perf_counter()
        for name in w.queries:
            if not timed:
                drain(spark)  # so that the checks below see only this query's batches
            q0 = time.perf_counter()
            qev0 = len(progress.events)
            try:
                if tracer:
                    cols, rows = tracer.run_query(name, plans.QUERIES[name], data_dir, pass_no)
                else:
                    df = plans.QUERIES[name](spark, data_dir)
                    cols, rows = df.columns, df.collect()
                    del df
                latency = time.perf_counter() - q0
                results.append((name, cols, rows))
                if not timed:
                    print(f"warm-up {name} {latency:.3f}s", file=sys.stderr)
            except Exception as e:  # a failing query is counted, the run goes on
                latency = None
                errors.setdefault(name, "".join(traceback.format_exception_only(e)).strip()[:2000])
            if timed:
                attempted += 1
                if latency is None:
                    failed += 1
                else:
                    per_query[name].append(latency)
            if not timed and name in stream_rows:
                drain(spark)
                stream_rows[name].append(sum(e["numInputRows"] for e in progress.events[qev0:]))
            spark.catalog.clearCache()
            gc.collect()
        pass_s = time.perf_counter() - p0
        drain(spark)
        if timed:
            pass_times.append(pass_s)
            pass_batches.append(progress.events[ev0:])
        if tracer:
            tracer.end_pass(pass_no, timed)
        for name, cols, rows in results:
            digests[name].add(check.digest(cols, rows))
            last_rows[name] = (cols, rows)

    warm0 = time.time()
    for i in range(WARMUP_PASSES):
        one_pass(-i, timed=False)
    first_timed = time.time()
    setup_s = first_timed - PROCESS_START - gen_s
    steal0 = _steal_s()
    t_end = time.perf_counter() + seconds
    n = 0
    while True:
        n += 1
        one_pass(n, timed=True)
        if n >= MIN_TIMED_PASSES and time.perf_counter() >= t_end:
            break
    peak_rss_mb = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb(os.getpid())
    steal_s = _steal_s() - steal0
    batches = [b for bs in pass_batches for b in bs]

    problems = _check(w, plans.ORACLES, data_dir, dirs["tmp"], errors, digests, last_rows,
                      stream_rows, rows_per_table)
    if tracer:
        tracer.uninstall()
    _stop(spark)
    tmp_left_mb = sum(dir_mb(d) for d in dirs.values())

    for name, xs in per_query.items():
        if xs:
            print(f"query {name} median_s={stats.median(xs):.3f} samples={[round(x, 3) for x in xs]}",
                  file=sys.stderr)
    for msg in problems:
        print(f"INCORRECT {msg}", file=sys.stderr)
    print(
        f"perfbench {w.name} seed={seed} cpus={_cpus()} passes={len(pass_times)} "
        f"query_samples={sum(map(len, per_query.values()))} micro_batches={len(batches)} "
        f"pass_s={[round(p, 3) for p in pass_times]} gen_s={gen_s:.2f} "
        f"session_s={session_start_s:.2f} warmup_s={first_timed - warm0:.2f} "
        f"timed_s={sum(pass_times):.2f} steal_s={steal_s:.2f}"
    )
    print("micro-batch triggerExecution ms per timed pass: "
          f"{[[b['durationMs'].get('triggerExecution') for b in bs if b['numInputRows'] > 0] for bs in pass_batches]}",
          file=sys.stderr)

    if tracer:
        metrics = tracer.per_layer({
            "session.start_s": session_start_s,
            "session.tmp_left_mb": tmp_left_mb,
            "session.peak_rss_mb": peak_rss_mb,
        })
        tracer.write(
            os.path.join(ROOT, "perfbench-out", f"trace-{w.name}-s{seed}.json"),
            {"workload": w.name, "seed": seed, "queries": list(w.queries),
             "tmp_left": sorted(os.listdir(dirs["tmp"]))},
            metrics,
        )
    else:
        trig = [b["durationMs"].get("triggerExecution", 0) for b in batches]
        # The first micro-batch of a stream is slower than the others, and
        # a pass is slower than the one after it, so each pass's median
        # batch is taken first.
        pass_data_trig = [[b["durationMs"]["triggerExecution"] for b in bs if b["numInputRows"] > 0]
                          for bs in pass_batches]
        pass_batch_p50 = [stats.median(ts) for ts in pass_data_trig if ts]
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (stats.median(pass_times), "s"),
            "batch_p50_ms": (stats.median(pass_batch_p50), "ms"),
            "stream_rows_per_s": (sum(b["numInputRows"] for b in batches) / (sum(trig) / 1e3), "rows/s"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    return {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }



def _check(w, oracles, data_dir, tmp_dir, errors, digests, last_rows, stream_rows,
           rows_per_table) -> list[str]:
    """What is wrong with the run: every query that raised in any pass,
    warm-up ones included, and every result that fails its check."""
    problems = [f"{name}: raised {msg}" for name, msg in sorted(errors.items())]
    con = check.duckdb_connection(data_dir, rows_per_table, tmp_dir)
    try:
        for name in w.queries:
            if name not in last_rows:
                continue
            if len(digests[name]) > 1:
                problems.append(f"{name}: result differs between passes")
            cols, rows = last_rows[name]
            if name in oracles:
                ref_cols, ref_rows = check.oracle(con, oracles[name])
                msg = check.compare(cols, rows, ref_cols, ref_rows)
            elif name == "sim_pca_project":
                msg = check.check_pca(cols, rows, data_dir)
            else:
                msg = "no oracle and no property check"
            if msg:
                problems.append(f"{name}: {msg}")
        for name, counts in stream_rows.items():
            want = rows_per_table[STREAMS_WHOLE_TABLE[name]]
            if counts and any(c != want for c in counts):
                problems.append(f"{name}: streamed {counts} input rows, table has {want}")
    finally:
        con.close()
    return problems


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import whisky_wine_etl_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
