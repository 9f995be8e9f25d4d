"""The open-loop workload: the paper's own pipeline through ``sql-submit``.

A generator thread lands seeded events as parquet files in a landing
directory on a fixed schedule that does not slow when the pipeline
slows. Each event carries its creation time (``created``), which is the
moment it was due under the schedule, so a late generator shows up as
latency. A ``sql-submit`` script in the shape of the reference demo
(``test.sql``) consumes the files: a ``filesystem`` source with a
``WATERMARK``, per-dim per-minute pv/uv/sum/max/min plus
``max(created) AS last_created``, and an ``upsert-filesystem`` sink.

The run has a steady phase well under capacity, where newest-event
latency is measured, then an overload phase that lands input faster
than the pipeline drains it, where throughput is measured while a
backlog is always present.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DIMS = 64
N_USERS = 100_000
ZIPF_S = 1.1
#: events are at most this many seconds out of order in event time
JITTER_S = 5.0
EVENT_BASE = np.datetime64("2024-01-01T00:00:00", "us")
#: the steady phase lands a file this often
STEADY_FILE_S = 0.25
#: overload bursts land this far apart, as files of at most BURST_FILE events
BURST_EVERY_S = 3.0
BURST_FILE = 250_000

SCRIPT = """
SET 'execution.runtime-mode' = 'streaming';
SET 'pipeline.name' = 'perfbench-open-loop';
SET 'flinkcommons.checkpoint.dir' = '${ckpt}';

CREATE TABLE IF NOT EXISTS `default_catalog`.`default_database`.`tbl_order_source` (
    dim STRING,
    user_id BIGINT,
    price DOUBLE,
    row_time TIMESTAMP(3),
    created TIMESTAMP(3),
    WATERMARK FOR row_time AS row_time - INTERVAL '5' SECOND
) WITH (
    'connector' = 'filesystem',
    'path' = '${landing}',
    'format' = 'parquet'
);

CREATE TABLE IF NOT EXISTS `default_catalog`.`default_database`.`tbl_order_stat` (
    dim STRING,
    window_start BIGINT,
    pv BIGINT,
    uv BIGINT,
    sum_price DOUBLE,
    max_price DOUBLE,
    min_price DOUBLE,
    last_created TIMESTAMP(3)
) WITH (
    'connector' = 'upsert-filesystem',
    'path' = '${sink}',
    'key' = 'dim,window_start'
);

INSERT INTO `default_catalog`.`default_database`.`tbl_order_stat`
SELECT
    dim,
    cast(unix_timestamp(cast(row_time as string)) / 60 AS bigint) AS window_start,
    count(*) AS pv,
    count(distinct user_id) AS uv,
    sum(price) AS sum_price,
    max(price) AS max_price,
    min(price) AS min_price,
    max(created) AS last_created
FROM `default_catalog`.`default_database`.`tbl_order_source`
GROUP BY dim, cast(unix_timestamp(cast(row_time as string)) / 60 AS bigint);
"""

READ_SCRIPT = """
SET 'execution.runtime-mode' = 'batch';
CREATE TABLE tbl_order_stat_final (
    dim STRING, window_start BIGINT, pv BIGINT, uv BIGINT,
    sum_price DOUBLE, max_price DOUBLE, min_price DOUBLE, last_created TIMESTAMP(3)
) WITH (
    'connector' = 'upsert-filesystem',
    'path' = '${sink}',
    'key' = 'dim,window_start'
);
"""

ORACLE_SQL = """
SELECT dim,
       floor(epoch(row_time) / 60)::bigint AS window_start,
       count(*) AS pv,
       count(DISTINCT user_id) AS uv,
       sum(price) AS sum_price,
       max(price) AS max_price,
       min(price) AS min_price
FROM read_parquet('{landing}/*.parquet')
GROUP BY 1, 2
"""


@dataclass
class Plan:
    """The generator's whole schedule, fixed by the seed before the run."""

    due: np.ndarray          # per file: due time in seconds after t0
    sizes: np.ndarray        # per file: event count
    phase: list[str]         # per file: "warmup", "warm", "steady" or "overload"
    offsets: np.ndarray      # per event: due time in seconds after t0
    dim: np.ndarray
    user_id: np.ndarray
    price: np.ndarray
    event_us: np.ndarray     # per event: event time, us after EVENT_BASE
    steady_start: float = 0.0
    steady_end: float = 0.0


def make_plan(seed: int, warm_s: float, steady_s: float, steady_eps: float, bursts: int,
              burst: int, warmup: int) -> Plan:
    """Files and events for both phases. File 0 holds ``warmup`` events
    due in the second before t0; it is landed during set-up, before the
    pipeline starts. From t0 a file lands every ``STEADY_FILE_S`` at
    ``steady_eps``: for ``warm_s`` seconds of warm phase, which is still
    set-up, then for ``steady_s`` seconds of steady phase. Then come
    ``bursts`` overload bursts of ``burst`` events, ``BURST_EVERY_S``
    apart, each due at one instant and landed as files of at most
    ``BURST_FILE`` events that appear together.
    Event times follow the schedule one to one, minus up to ``JITTER_S``
    of out-of-order jitter."""
    rng = np.random.default_rng([seed, 7])
    due, sizes, phase = [], [], []
    offsets = []

    def add(t_lo, t_hi, k, name):
        offsets.append(np.sort(rng.uniform(t_lo, t_hi, k)))
        due.append(t_hi)
        sizes.append(k)
        phase.append(name)

    add(-1.0, 0.0, warmup, "warmup")
    n_warm = int(round(warm_s / STEADY_FILE_S))
    n_steady = max(1, int(round(steady_s / STEADY_FILE_S)))
    for i in range(n_warm + n_steady):
        add(i * STEADY_FILE_S, (i + 1) * STEADY_FILE_S,
            max(1, int(round(steady_eps * STEADY_FILE_S))), "warm" if i < n_warm else "steady")
    end = (n_warm + n_steady) * STEADY_FILE_S
    for b in range(bursts):
        due_at, left = end + b * BURST_EVERY_S, burst
        while left > 0:
            k = min(left, BURST_FILE)
            add(due_at, due_at, k, "overload")
            left -= k
    off = np.concatenate(offsets)
    n = len(off)
    ranks = np.arange(1, N_USERS + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -ZIPF_S)
    cdf /= cdf[-1]
    user = np.searchsorted(cdf, rng.random(n)).astype(np.int64) + 1
    jitter = rng.uniform(0.0, JITTER_S, n)
    return Plan(
        due=np.array(due), sizes=np.array(sizes), phase=phase, offsets=off,
        dim=rng.integers(0, N_DIMS, n).astype(np.int32),
        user_id=user,
        # quarter units: every partial sum is exact in a double
        price=rng.integers(200, 4001, n) / 4.0,
        # an hour after EVENT_BASE, so jitter never reaches before it
        event_us=(3_600.0 + off - jitter) * 1e6,
        steady_start=n_warm * STEADY_FILE_S,
        steady_end=end,
    )


@dataclass
class Landing:
    path: str
    due: float
    landed: float
    events: int
    phase: str
    first_created: float


@dataclass
class Generator:
    """Lands ``plan``'s files under ``landing_dir`` on schedule from t0."""

    plan: Plan
    landing_dir: Path
    t0: float = 0.0
    landings: list[Landing] = field(default_factory=list)
    _stop: threading.Event = field(default_factory=threading.Event)
    _thread: threading.Thread | None = None
    error: BaseException | None = None

    def __post_init__(self) -> None:
        # every column but ``created`` is built before the clock starts,
        # so landing a file costs one column and one parquet write
        p = self.plan
        self._base = pa.table({
            "dim": pa.DictionaryArray.from_arrays(
                pa.array(p.dim), pa.array([f"d{i:02d}" for i in range(N_DIMS)])
            ),
            "user_id": pa.array(p.user_id),
            "price": pa.array(p.price),
            "row_time": pa.array(
                EVENT_BASE + p.event_us.astype("timedelta64[us]"), pa.timestamp("us", tz="UTC")
            ),
        })

    def table(self, lo: int, hi: int, t0: float) -> pa.Table:
        created_us = ((t0 + self.plan.offsets[lo:hi]) * 1e6).astype(np.int64)
        return self._base.slice(lo, hi - lo).append_column(
            "created", pa.array(created_us, pa.timestamp("us", tz="UTC"))
        )

    def write(self, name: str, table: pa.Table) -> Path:
        """Write under a dot-name, which Spark's file source ignores."""
        tmp = self.landing_dir / f".{name}.tmp"
        pq.write_table(table, tmp)
        return tmp

    def land(self, files: list[int], t0: float) -> None:
        """Write ``files`` (plan indices), then rename them into the
        landing directory together, so they appear at one instant."""
        p = self.plan
        staged = []
        for i in files:
            lo = int(p.sizes[:i].sum())
            hi = lo + int(p.sizes[i])
            staged.append((i, lo, hi, self.write(f"f{i:05d}", self.table(lo, hi, t0))))
        for i, lo, hi, tmp in staged:
            final = self.landing_dir / f"f{i:05d}.parquet"
            os.replace(tmp, final)
            self.landings.append(
                Landing(str(final), t0 + p.due[i], time.time(), hi - lo, p.phase[i], t0 + p.offsets[lo])
            )

    def land_warmup(self, t0: float) -> None:
        """File 0, landed before the pipeline is submitted."""
        self.land([0], t0)

    def start(self, t0: float) -> None:
        self.t0 = t0
        self._thread = threading.Thread(target=self._run, name="perfbench-generator", daemon=True)
        self._thread.start()

    def _run(self) -> None:
        try:
            p = self.plan
            i = 1
            while i < len(p.due):
                # files due at the same instant land together
                group = [j for j in range(i, len(p.due)) if p.due[j] == p.due[i]]
                wait = self.t0 + p.due[i] - time.time()
                if wait > 0 and self._stop.wait(wait):
                    return
                self.land(group, self.t0)
                i = group[-1] + 1
        except BaseException as exc:  # reported by the caller after join
            self.error = exc

    def join(self, timeout: float) -> None:
        self._thread.join(timeout)

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(30)


# ------------------------------------------------------------------ run

#: input rates: the steady phase sits well under the 4-core capacity,
#: the overload phase well above it
STEADY_EPS = 20_000
#: seconds of input at the steady rate before the steady phase, counted
#: as set-up: the first micro-batches of a fresh JVM take up to twice as
#: long as those after about six seconds of input
WARM_S = 6.0
#: the steady phase's share of ``--seconds``. A micro-batch takes about a
#: second and writes one result row per dim, so the latency tail lies in
#: the slowest few batches; at 7.5 s of steady phase a ten-seed set spread
#: 0.25 on ``latency_tail_s``.
STEADY_SHARE = 0.4
BURSTS = 3
BURST_EVENTS = 1_000_000
WARMUP_EVENTS = 2_000
QUERY_NAME = "perfbench-open-loop-tbl_order_stat"
#: margin on the steady phase's bounds when rows are picked by creation time
CREATED_GUARD_S = 0.01
#: HLL++ relative standard deviation of approx_count_distinct's default
HLL_RSD = 0.05


def plan_for(seed: int, seconds: float, smoke: bool = False) -> Plan:
    """The schedule for a run of ``seconds``: the warm phase, then
    ``STEADY_SHARE`` of ``seconds`` steady, then the fixed overload
    bursts (smoke runs: small ones, and no warm phase)."""
    if smoke:
        return make_plan(seed, 0.0, 1.0, 2_000, 1, 10_000, warmup=200)
    return make_plan(seed, WARM_S, STEADY_SHARE * seconds, STEADY_EPS, BURSTS, BURST_EVENTS,
                     warmup=WARMUP_EVENTS)


def _epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _source_log(ckpt_dir: Path) -> dict[str, int]:
    """File name -> the file source's own log offset, from its metadata
    log in the checkpoint (plain and compacted entries). Query batches
    map to log offsets through their progress records; the two differ
    because batches that read no input do not advance the log."""
    out = {}
    log_dir = ckpt_dir / QUERY_NAME / "sources" / "0"
    for f in sorted(log_dir.iterdir()):
        if f.name.startswith(".") or f.name.endswith(".tmp"):
            continue
        for line in f.read_text().splitlines()[1:]:
            if line.strip():
                rec = json.loads(line)
                out[os.path.basename(rec["path"])] = int(rec["batchId"])
    return out


def batch_inputs(progress, file_offset: dict[str, int]) -> dict[int, set]:
    """Query batch id -> names of the files it read, for batches that read
    any: batch ``b`` reads the log offsets in ``(startOffset, endOffset]``
    of its progress record."""
    def offset(o):
        # a FileStreamSourceOffset renders as {"logOffset": n}, or as n;
        # the first batch has no start offset
        if o is None:
            return -1
        return int(o["logOffset"] if isinstance(o, dict) else o)

    out = {}
    for p in progress:
        src = p["sources"][0]
        lo, hi = offset(src.get("startOffset")), offset(src.get("endOffset"))
        files = {f for f, off in file_offset.items() if lo < off <= hi}
        if files:
            out[p["batchId"]] = files
    return out


def burst_busy(progress, batch_files: dict[int, set], burst):
    """``(busy seconds, rows, batch ids, end)`` of the micro-batches that
    read any of the ``burst`` landings."""
    names = {os.path.basename(l.path) for l in burst}
    busy, rows, ids, end = 0.0, 0, [], 0.0
    for p in progress:
        if batch_files.get(p["batchId"], set()) & names:
            d = p["durationMs"].get("triggerExecution", 0) / 1e3
            busy += d
            rows += p["numInputRows"]
            ids.append(p["batchId"])
            end = max(end, _epoch(p["timestamp"]) + d)
    return busy, rows, ids, end


def _changelog(sink_dir: Path):
    """``(mtime, last_created seconds)`` per changelog file."""
    out = []
    for f in sorted(sink_dir.glob("*.parquet")):
        t = pq.read_table(f, columns=["last_created"])
        if t.num_rows == 0:
            continue
        # Spark may write INT96 timestamps, which read back as nanoseconds
        created = t.column("last_created").cast(
            pa.timestamp("us", tz="UTC"), safe=False
        ).cast(pa.int64()).to_numpy() / 1e6
        out.append((f.stat().st_mtime, created))
    return out


def _progress(query) -> list[dict]:
    """The query's retained progress records as plain JSON dicts."""
    return [json.loads(p.json) for p in query.recentProgress]


def _wait_processed(query, events: int, deadline: float, poll: float = 0.05) -> bool:
    while time.time() < deadline:
        done = sum(p["numInputRows"] for p in query.recentProgress)
        if done >= events:
            return True
        if query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {query.exception()}")
        time.sleep(poll)
    return False


def submit(spark, run_dir: Path):
    """Start the demo pipeline through ``sql-submit``; returns the query."""
    from flink_commons_spark.actions.sql_submit import SqlSubmitAction

    variables = {k: str(run_dir / k) for k in ("landing", "sink", "ckpt")}
    SqlSubmitAction(sql_text=SCRIPT, variables=variables, spark=spark, await_streams=False).run()
    return next(q for q in spark.streams.active if q.name == QUERY_NAME)


def start_pipeline(spark, plan: Plan, run_dir: Path):
    """Land the warm-up file, submit the script and wait for its first
    micro-batch; returns ``(generator, query)``, the generator not yet
    started."""
    landing = run_dir / "landing"
    landing.mkdir(parents=True, exist_ok=True)
    gen = Generator(plan, landing)
    gen.land_warmup(time.time())
    query = submit(spark, run_dir)
    if not _wait_processed(query, int(plan.sizes[0]), time.time() + 60):
        query.stop()
        raise RuntimeError("the first micro-batch did not finish within 60 s")
    return gen, query


def feed(gen: Generator, query, deadline: float, at_steady=None) -> tuple[list[dict], bool]:
    """Run the generator's schedule from now, call ``at_steady`` when the
    steady phase starts, wait until the pipeline has processed every
    event or ``deadline`` (epoch) passes, and stop the query. Returns its
    progress records and whether it drained."""
    plan = gen.plan
    gen.start(time.time())
    try:
        if at_steady is not None:
            time.sleep(max(0.0, gen.t0 + plan.steady_start - time.time()))
            at_steady()
        gen.join(max(1.0, plan.due[-1] + 30))
        if gen.error is not None:
            raise RuntimeError(f"generator failed: {gen.error}")
        drained = _wait_processed(query, int(plan.sizes.sum()), max(time.time() + 5.0, deadline))
    finally:
        gen.stop()
        query.stop()
    return _progress(query), drained


def run(spark, plan: Plan, run_dir: Path, tracer, setup_origin, deadline: float) -> dict:
    """One open-loop run; ``setup_origin`` is the epoch time set-up started
    from (``None``: report no set-up time), ``deadline`` the
    ``perf_counter`` time by which the pipeline must have drained."""
    import statistics

    from stats import backlog_always_present, failed_frac, pending_at, row_latencies, tail

    landing, sink, ckpt = (run_dir / k for k in ("landing", "sink", "ckpt"))
    gen, query = start_pipeline(spark, plan, run_dir)
    if tracer is not None:
        tracer.watch(query)
    setup_s = 0.0

    def at_steady():
        nonlocal setup_s
        if setup_origin is not None:
            setup_s = time.time() - setup_origin
        if tracer is not None:
            tracer.reset()

    total_events = int(plan.sizes.sum())
    progress, drained = feed(gen, query, time.time() + deadline - time.perf_counter(), at_steady)
    t0 = gen.t0
    if tracer is not None:
        tracer.unwatch()
        tracer.freeze()

    # ---- batches: input files from the checkpoint, timing from progress
    landed = {os.path.basename(l.path): l for l in gen.landings}
    batch_files = batch_inputs(progress, _source_log(ckpt))
    timing = {}
    for p in progress:
        start = _epoch(p["timestamp"])
        timing[p["batchId"]] = (start, start + p["durationMs"].get("triggerExecution", 0) / 1e3,
                                p["durationMs"].get("triggerExecution", 0) / 1e3)
    batches = sorted(b for b in batch_files if b in timing)
    phase_of = {b: {landed[f].phase for f in batch_files[b] if f in landed} for b in batches}
    steady = [b for b in batches if phase_of[b] == {"steady"}]

    # ---- steady phase: newest-event latency of every result row whose
    # newest event was created in the steady phase. A row whose newest
    # event came from the warm phase or a burst is left out, so the
    # figure keeps its meaning however the batches fell. The first
    # burst's events are created exactly at the steady phase's end, so
    # a guard keeps the stored timestamps' truncation from letting them in.
    lat = row_latencies(_changelog(sink), t0 + plan.steady_start,
                        t0 + plan.steady_end - CREATED_GUARD_S)
    if not lat:
        raise RuntimeError("no result row's newest event was created in the steady phase")
    trig = [timing[b][2] for b in steady]

    # ---- overload phase: busy time and throughput under backlog. A
    # burst's cost is the summed duration of the micro-batches that read
    # it, which does not depend on where the burst fell in the trigger
    # cycle; drain time (burst landed to its last file emitted) does, and
    # is reported alongside.
    land_list = [(l.landed, os.path.basename(l.path), l.events) for l in gen.landings]
    seq = [(timing[b][0], timing[b][1], batch_files[b]) for b in batches]
    over = [l for l in gen.landings if l.phase == "overload"]
    over_events = sum(l.events for l in over)
    busy_s, burst_rows, burst_ids, _ = burst_busy(progress, batch_files, over)
    n_burst_batches = len(burst_ids)
    drains, backlogged = [], True
    for due in sorted({l.due for l in over}):
        group = [l for l in over if l.due == due]
        end = burst_busy(progress, batch_files, group)[3]
        landed_at = min(l.landed for l in group)
        drains.append(end - landed_at)
        backlogged &= backlog_always_present(seq, land_list, landed_at, end)

    # ---- correctness: final upsert table against DuckDB over the landed files
    attempted, failed, notes = check_final(spark, run_dir, landing)
    if not drained:
        notes.append(f"pipeline did not drain: {total_events} events landed")

    lat_p50 = statistics.median(lat)
    lat_tail, tail_label, n_lat = tail(lat)
    trig_tail = tail(trig) if trig else (None, "none", 0)
    report = {
        "setup_s": (setup_s, "s"),
        "total_s": (busy_s, "s", f"busy on {len(drains)} bursts, {over_events} events, in "
                    f"{n_burst_batches} micro-batches; each drained "
                    f"{' / '.join(f'{d:.3f}' for d in drains)} s after it landed"),
        "query_p50_s": (statistics.median(trig) if trig else None, "s",
                        f"{len(trig)} micro-batches read only steady-phase files"),
        "query_tail_s": (trig_tail[0], "s", f"{trig_tail[1]} of n={trig_tail[2]} micro-batches"),
        "failed_frac": (failed_frac(attempted, 0, 0, failed), "ratio"),
        "peak_rss_mb": (None, "MB"),
        "latency_p50_s": (lat_p50, "s", f"n={n_lat} result rows"),
        "latency_tail_s": (lat_tail, "s", f"{tail_label} of n={n_lat}"),
        "max_eps": (burst_rows / busy_s, "events/s",
                    "backlog always present" if backlogged else "NO persistent backlog"),
    }
    metrics = {
        "setup_s": setup_s,
        "total_s": busy_s,
        "latency_p50_s": lat_p50,
        "latency_tail_s": lat_tail,
    }
    nonempty = [b for b in batches if b > 0]
    starts = {b: timing[b][0] for b in nonempty}
    consumed: set = set()
    backlog_max = 0
    for b in batches:
        if b in starts:
            backlog_max = max(backlog_max, pending_at(starts[b], land_list, consumed))
        consumed |= batch_files[b]
    oldest = {}
    for b in nonempty:
        firsts = [landed[f].first_created for f in batch_files[b] if f in landed]
        if firsts:
            oldest[b] = timing[b][1] - min(firsts)
    layers = {
        "sources.lag_s": statistics.median(oldest.values()) if oldest else 0.0,
        "sources.backlog_events": float(backlog_max),
        "sources.files_per_batch": (
            statistics.mean(len(batch_files[b]) for b in nonempty) if nonempty else 0.0
        ),
        "gen.late_s": max((l.landed - l.due for l in gen.landings if l.phase != "warmup"), default=0.0),
    }
    steady_s = plan.steady_end - plan.steady_start
    steady_events = sum(int(k) for k, ph in zip(plan.sizes, plan.phase) if ph == "steady")
    notes.append(
        f"steady {steady_s:.1f} s at {steady_events / steady_s:.0f} events/s "
        f"after {plan.steady_start:.1f} s warm, "
        f"{len(steady)} steady micro-batches; {len(drains)} bursts, {over_events} events, "
        f"{'backlog always present' if backlogged else 'backlog NOT always present'}; "
        f"generator late by at most {layers['gen.late_s']:.3f} s"
    )
    return {
        "metrics": metrics,
        "report": report,
        "attempted": attempted,
        "failed": failed,
        "extra": {"landing_dir": str(landing), "notes": notes, "layers": layers,
                  "backlogged": backlogged,
                  "batches": [(b, round(timing[b][0] - t0, 3), round(timing[b][1] - t0, 3),
                               len(batch_files[b]), sorted(phase_of[b])) for b in batches],
                  "landings": [(round(l.landed - t0, 3), l.events, l.phase) for l in gen.landings]},
    }


def check_final(spark, run_dir: Path, landing: Path):
    """Compare the final upsert table with DuckDB over the landed files:
    pv, sum, max and min exactly, uv within 5 HLL++ standard deviations.
    Returns ``(groups checked, groups failed, notes)``."""
    import duckdb

    from flink_commons_spark.actions.sql_submit import SqlSubmitAction

    SqlSubmitAction(sql_text=READ_SCRIPT, variables={"sink": str(run_dir / "sink")},
                    spark=spark).run()
    got = {(r.dim, r.window_start): r for r in spark.table("tbl_order_stat_final").collect()}
    con = duckdb.connect()
    try:
        con.execute("SET threads=2")
        con.execute("SET memory_limit='2GB'")
        con.execute(f"SET temp_directory='{run_dir / 'tmp'}'")
        want = con.execute(ORACLE_SQL.format(landing=landing)).fetchall()
    finally:
        con.close()
    failed, notes = 0, []
    keys = set()
    for dim, ws, pv, uv, s, mx, mn in want:
        keys.add((dim, ws))
        r = got.get((dim, ws))
        bad = None
        if r is None:
            bad = "missing"
        elif (r.pv, r.sum_price, r.max_price, r.min_price) != (pv, s, mx, mn):
            bad = f"pv/sum/max/min {(r.pv, r.sum_price, r.max_price, r.min_price)} vs {(pv, s, mx, mn)}"
        elif abs(r.uv - uv) > 5 * HLL_RSD * uv + 1:
            bad = f"uv {r.uv} vs exact {uv}"
        if bad:
            failed += 1
            if len(notes) < 5:
                notes.append(f"open-loop group {dim}/{ws}: {bad}")
    extra = set(got) - keys
    failed += len(extra)
    return len(keys) + len(extra), failed, notes


def single_cpu_eps(spark, seed: int, run_dir: Path, tracer):
    """The single-thread baseline: one overload burst alone through the
    same script on a ``local[1]`` session (``SPARK_GRAFT_CPUS=1``).
    Records ``open.max_eps_1cpu`` and returns that session, still running."""
    from flink_commons_spark import session

    cpus = os.environ["SPARK_GRAFT_CPUS"]
    spark.stop()
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    try:
        one = session.get_session()
        one.sparkContext.setLogLevel("ERROR")
        plan = make_plan(seed, 0.0, 0.5, STEADY_EPS, 1, BURST_EVENTS, warmup=WARMUP_EVENTS)
        gen, query = start_pipeline(one, plan, run_dir)
        progress, _ = feed(gen, query, time.time() + 60)
        batch_files = batch_inputs(progress, _source_log(run_dir / "ckpt"))
        over = [l for l in gen.landings if l.phase == "overload"]
        busy, rows, _, _ = burst_busy(progress, batch_files, over)
        tracer.counters["open.max_eps_1cpu"] = rows / busy
    finally:
        os.environ["SPARK_GRAFT_CPUS"] = cpus
    return one
