"""The repository's benchmark of record.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload closed_loop --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --smoke

Two workloads run against the program's public entry points
(``session.get_session()``, ``catalog.QUERIES`` and ``SqlSubmitAction``)
at scale factor 0.1 with ``local[nproc]``:

* ``closed_loop`` runs contract queries back to back (``closedloop.py``)
  and checks every result exactly against its DuckDB oracle;
* ``stream_open_loop`` feeds the reference demo's pipeline from a
  generator on a fixed schedule (``openloop.py``) and checks the final
  upsert table against DuckDB over the landed files.

The run prints every end-to-end metric by name and unit, then, as its
last line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics, or with ``--trace 1`` the
per-layer metrics of a traced run (``tracing.py``), whose spans and
counters are also written to ``perfbench/.work/trace-<workload>.json``.
``--smoke`` runs every workload briefly at scale factor 0.001.

The closed loop reads the reference test tables copied under
``perfbench/data``. Everything the run writes stays under
``perfbench/.work``: cached oracle digests persist there between runs,
and each run's scratch directory is removed when it ends.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path
from typing import NoReturn

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
#: the closed loop's tables: copies of the repository's reference test
#: data (``TESTDATA.md``), see ``data/README.md``
DATA = BENCH / "data"
# the checkout's package first, so the measured tree is the one imported
sys.path[:0] = [str(ROOT), str(BENCH)]

WORKLOADS = ("closed_loop", "stream_open_loop")
SF = 0.1
SMOKE_SF = 0.001
DRIVER_MEMORY = "4g"
#: a run must exit well inside the 180 s a caller allows it
RUN_DEADLINE_S = 150.0


def _process_start() -> float:
    """Wall-clock start of this process, from /proc."""
    try:
        ticks = os.sysconf("SC_CLK_TCK")
        start = int(Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()[19])
        btime = next(
            int(line.split()[1])
            for line in Path("/proc/stat").read_text().splitlines()
            if line.startswith("btime ")
        )
        return btime + start / ticks
    except (OSError, ValueError, IndexError, StopIteration):
        return time.time()


PROC_START = _process_start()


def fail(msg: str) -> NoReturn:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def tree_id() -> str:
    """The measured program: its git commit when the checkout is a git
    tree, else a hash over the package's Python sources."""
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for p in sorted((ROOT / "flink_commons_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return "src-sha256:" + h.hexdigest()[:16]


# ----------------------------------------------------------------- env


def prepare_env(run_dir: Path, cpus: int) -> dict:
    """Point every tool's scratch space inside the run directory and put
    the checkout on the Python workers' path."""
    for sub in ("tmp", "local", "warehouse", "scratch"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_GRAFT_SCRATCH_DIR": str(run_dir / "scratch"),
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        "TMPDIR": str(run_dir / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        # every JVM (the launcher's too) keeps its temp files, and no
        # hsperfdata, under the run directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={run_dir / 'warehouse'}"),
            "--conf", shlex.quote(f"spark.local.dir={run_dir / 'local'}"),
            "pyspark-shell",
        ]),
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return env


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    the Python workers), sampled from /proc."""

    def __init__(self, every: float = 0.2) -> None:
        self.every = every
        self.peak_bytes = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, name="perfbench-rss", daemon=True)

    def descendants(self) -> list[int]:
        parent = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                stat = Path(f"/proc/{d}/stat").read_text()
                parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
        me = os.getpid()
        out, frontier = [], [me]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p]
            out.extend(kids)
            frontier.extend(kids)
        return out

    def sample(self) -> None:
        total = 0
        for pid in self.descendants():
            self.seen.add(pid)
            try:
                total += int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.wait(self.every):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(10)


def tree_guard(spark) -> dict:
    """Where the driver and a Python worker import the package from; both
    must lie under the measured checkout."""
    import flink_commons_spark

    driver = str(Path(flink_commons_spark.__file__).resolve())
    # a lambda is pickled by value, so the worker needs no benchmark module
    probe = lambda _: __import__("flink_commons_spark").__file__  # noqa: E731
    worker = spark.sparkContext.parallelize([0], 1).map(probe).collect()[0]
    worker = str(Path(worker).resolve())
    root = str(ROOT) + os.sep
    return {
        "driver_file": driver,
        "worker_file": worker,
        "ok": driver.startswith(root) and worker.startswith(root),
    }


def _start_time(pid: int) -> str | None:
    try:
        return Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[19]
    except (OSError, IndexError):
        return None


def stop_spark(spark, sampler: RssSampler) -> None:
    """Stop the session and the gateway JVM, and wait for every process
    this run started (the JVM, the Python worker daemon and its workers)
    to end; kill any still running after 15 s."""
    from pyspark import SparkContext

    # a process is identified by pid and start time, so a reused pid is
    # never mistaken for one of ours
    ours = {pid: _start_time(pid) for pid in sampler.descendants()}
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = gateway.proc
            proc.stdin.close()  # the gateway JVM exits at end of input
            try:
                proc.wait(30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(10)
            SparkContext._gateway = None
            SparkContext._jvm = None
    deadline = time.time() + 15
    for pid, started in ours.items():
        while _start_time(pid) == started and started is not None:
            if time.time() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, 9)
                break
            time.sleep(0.05)


# ------------------------------------------------------------- session


def start_session(tracer):
    """JVM, ``get_session``, ``register_all``: the program's own set-up."""
    from flink_commons_spark import session
    from flink_commons_spark.functions.registry import register_all

    span = tracer.span if tracer is not None else (lambda name: contextlib.nullcontext())
    with span("session.build"):
        spark = session.get_session()
    spark.sparkContext.setLogLevel("ERROR")
    if tracer is not None:
        tracer.attach(spark)
    with span("functions.register"):
        register_all(spark)
    return spark


def warm_up(spark, data_dir: Path) -> None:
    """One scan-and-aggregate before anything is timed, so the parquet
    reader, code generation and the shuffle are loaded."""
    spark.read.parquet(str(data_dir / "events.parquet")).groupBy("event_type").count().collect()


# ------------------------------------------------------------- reports


def summarize_closed(res, first, setup_s: float) -> dict:
    """End-to-end metrics for the result line and the full report. The
    timing comes from the timed passes ``res``: each query's time is its
    median over the passes, so the figures do not depend on which query
    a pass happens to put in the middle. The warm passes ``first`` count
    in the operations attempted and failed."""
    from stats import failed_frac, query_medians, tail

    ops = first.ops + res.ops
    errors = sum(op.outcome == "error" for op in ops)
    timeouts = sum(op.outcome == "timeout" for op in ops)
    wrong = sum(op.outcome == "wrong" for op in ops)
    med = query_medians([(op.name, op.seconds) for op in res.ops])
    total = sum(med.values())
    p50 = statistics.median(med.values())
    t_val, t_label, n = tail(list(med.values()))
    report = {
        "setup_s": (setup_s, "s"),
        "total_s": (total, "s", f"sum of {n} query medians over {len(res.passes)} passes"),
        "query_p50_s": (p50, "s", f"median of {n} query medians"),
        "query_tail_s": (t_val, "s", f"{t_label} of n={n} query medians"),
        "failed_frac": (failed_frac(len(ops), errors, timeouts, wrong), "ratio"),
        "peak_rss_mb": (None, "MB"),
        "latency_p50_s": (p50, "s", "a closed-loop caller waits one query time"),
        "latency_tail_s": (t_val, "s", "as query_tail_s"),
        "max_eps": (None, "events/s", "open loop only"),
    }
    metrics = {
        "setup_s": setup_s,
        "total_s": total,
        "latency_p50_s": p50,
        "latency_tail_s": t_val,
    }
    extra = {
        "ops": [(op.name, op.pass_no, round(op.seconds, 4), op.outcome, op.detail) for op in ops],
        "passes": res.passes,
    }
    return {
        "metrics": metrics,
        "report": report,
        "attempted": len(ops),
        "failed": sum(op.outcome != "ok" for op in ops),
        "extra": extra,
    }


UNITS = {"setup_s": "s", "total_s": "s", "latency_p50_s": "s", "latency_tail_s": "s"}


def print_report(workload: str, report: dict, info: dict) -> None:
    print(f"== perfbench {workload} ==")
    for key, val in info.items():
        print(f"  {key}: {val}")
    for name, row in report.items():
        value, unit = row[0], row[1]
        note = f"  ({row[2]})" if len(row) > 2 else ""
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"  {name:<15} {shown:>14} {unit}{note}")


# ---------------------------------------------------------------- main


def build_inputs(workload: str, sf: float, seed: int, seconds: float, smoke: bool) -> dict:
    """Cached oracle digests and the open-loop schedule: the benchmark's
    own preparation, whose duration (``build_s``) is not counted as
    set-up. Importing the program is, so it happens first."""
    import closedloop
    import openloop
    import oracle
    from flink_commons_spark import catalog

    t0 = time.perf_counter()
    data_dir = DATA / f"sf{sf:g}"
    names = closedloop.QUERIES if workload == "closed_loop" else []
    expected, plan = {}, None
    if names:
        expected = oracle.expected(names, catalog.ORACLES, data_dir, WORK / "oracle", nproc())
    if workload == "stream_open_loop":
        plan = openloop.plan_for(seed, seconds, smoke)
    return {"data_dir": data_dir, "names": names, "expected": expected, "plan": plan,
            "build_s": time.perf_counter() - t0}


def run_workload(workload: str, inputs: dict, seed: int, seconds: float, spark, sampler,
                 tracer, run_dir: Path, setup_origin: float | None) -> dict:
    """Measure one workload on a started session. ``setup_origin`` is the
    epoch time set-up is counted from (``None``: report 0)."""
    import closedloop
    import openloop

    warm_up(spark, inputs["data_dir"])
    deadline = time.perf_counter() + RUN_DEADLINE_S - (time.time() - PROC_START)
    if workload == "stream_open_loop":
        out = openloop.run(spark, inputs["plan"], run_dir, tracer, setup_origin, deadline)
    else:
        # the warm passes are set-up; their results are checked like
        # every other
        names, data, expected = inputs["names"], str(inputs["data_dir"]), inputs["expected"]
        first = closedloop.run(spark, names, seed, closedloop.WARM_PASSES, data, expected,
                               deadline=deadline, first_pass=-closedloop.WARM_PASSES)
        setup_s = time.time() - setup_origin if setup_origin is not None else 0.0
        if tracer is not None:
            tracer.reset()
        passes = max(1, int(seconds // closedloop.PASS_S))
        res = closedloop.run(spark, names, seed, passes, data, expected, tracer=tracer,
                             deadline=deadline)
        out = summarize_closed(res, first, setup_s)
    sampler.sample()
    peak_mb = sampler.peak_bytes / 2**20
    out["report"]["peak_rss_mb"] = (peak_mb, "MB", "driver JVM + Python workers")
    out["guard"] = tree_guard(spark)
    if tracer is not None:
        tracer.flush()
        tracer.count_jobs(spark)
        tracer.stream_totals()
        for k, v in out["extra"].get("layers", {}).items():
            tracer.counters[k] = v
        tracer.counters["trace.total_s"] = out["metrics"]["total_s"]
        tracer.counters["mem.peak_rss_mb"] = peak_mb
    return out


def single(args, run_dir: Path, cpus: int, env: dict) -> int:
    import pyspark

    inputs = build_inputs(args.workload, SF, args.seed, args.seconds, smoke=False)
    build_s = inputs["build_s"]
    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
        tracer.install()
    sampler = RssSampler()
    sampler.start()
    # set-up is counted from process start, less the benchmark's own
    # preparation above
    setup_origin = PROC_START + build_s
    spark = start_session(tracer)
    try:
        out = run_workload(args.workload, inputs, args.seed, args.seconds, spark, sampler,
                           tracer, run_dir, setup_origin)
        if tracer is not None and args.workload == "stream_open_loop":
            import openloop

            spark = openloop.single_cpu_eps(spark, args.seed, run_dir / "one-cpu", tracer)
    finally:
        if tracer is not None:
            tracer.uninstall()
        sampler.stop()
        stop_spark(spark, sampler)

    guard = out["guard"]
    correct = guard["ok"] and out["failed"] == 0
    info = {
        "tree": tree_id(),
        "driver_package": guard["driver_file"],
        "worker_package": guard["worker_file"],
        "tree_guard": "ok" if guard["ok"] else "FAILED: package imported from outside the checkout",
        "nproc": cpus,
        "spark": pyspark.__version__,
        "driver_memory": env["SPARK_DRIVER_MEMORY"],
        "scratch_dir": env["SPARK_GRAFT_SCRATCH_DIR"],
        "landing_dir": out["extra"].get("landing_dir", "n/a"),
        "data_dir": str(inputs["data_dir"]),
        "seed": args.seed,
        "seconds": args.seconds,
        "build_s": round(build_s, 3),
        "ops": out["attempted"],
        "ops_failed": out["failed"],
        "oracle": "all results match" if out["failed"] == 0 else f"{out['failed']} failed",
    }
    print_report(args.workload, out["report"], info)
    for name, pass_no, secs, outcome, detail in out["extra"].get("ops", []):
        flag = "" if outcome == "ok" else f"  FAILED: {outcome} {detail}"
        print(f"  op {name} pass {pass_no}: {secs:.3f} s{flag}")
    for line in out["extra"].get("notes", []):
        print(f"  {line}")
    if tracer is not None:
        layers = tracer.layers()
        path = WORK / f"trace-{args.workload}.json"
        path.write_text(json.dumps({
            "workload": args.workload,
            "seed": args.seed,
            "layers": layers,
            "counters": dict(tracer.counters),
            "self_s": tracer.self_times(),
            "spans": tracer.spans,
            "ops": out["extra"].get("ops", []),
        }, indent=1, default=str))
        print(f"  trace written to {path.relative_to(ROOT)}")
        for k in ("trace.missed_batches", "trace.errors"):
            if tracer.counters.get(k):
                print(f"  {k}: {tracer.counters[k]:g}")
        for k, v in layers.items():
            print(f"  {k:<26} {v:.6g} {_layer_unit(k)}")
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in out["metrics"].items()}
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": metrics,
    }))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="every workload briefly at sf0.001")
    args = ap.parse_args(argv)
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke is given")
    if not (ROOT / "flink_commons_spark" / "__init__.py").is_file():
        fail(f"no flink_commons_spark package under {ROOT}; run from a checkout of the repository")
    if args.seconds <= 0:
        fail("--seconds must be positive")

    cpus = nproc()
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    env = prepare_env(run_dir, cpus)
    try:
        if args.smoke:
            return smoke(run_dir)
        return single(args, run_dir, cpus, env)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _layer_unit(key: str) -> str:
    import tracing

    return tracing.LAYER_METRICS[key]


def smoke(run_dir: Path) -> int:
    """Every workload briefly at sf0.001 in one session; exit 1 on any
    failed operation."""
    sampler = RssSampler()
    sampler.start()
    spark = start_session(None)
    bad = 0
    try:
        for w in WORKLOADS:
            inputs = build_inputs(w, SMOKE_SF, 1, 2.0, smoke=True)
            out = run_workload(w, inputs, 1, 2.0, spark, sampler, None, run_dir / w, None)
            ok = out["guard"]["ok"] and out["failed"] == 0
            bad += not ok
            shown = {k: round(v, 4) for k, v in out["metrics"].items()}
            print(f"smoke {w}: {'ok' if ok else 'FAILED'} attempted={out['attempted']} "
                  f"failed={out['failed']} {shown}")
            for op in out["extra"].get("ops", []):
                if op[3] != "ok":
                    print(f"  FAILED {op[0]}: {op[3]} {op[4]}")
            for line in out["extra"].get("notes", []):
                print(f"  {line}")
    finally:
        sampler.stop()
        stop_spark(spark, sampler)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
