"""Shared pieces of the benchmark: the Spark session, statistics, the
order-independent content hash, Spark status-store counters, the span
tracer and the per-run bookkeeping every workload reports through."""

from __future__ import annotations

import functools
import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager

import procstat

CORES = len(os.sched_getaffinity(0))


# ------------------------------------------------------------- session
def start_spark(work: str):
    """The repository's own session factory on ``local[CORES]``, with every
    scratch location inside ``work``."""
    from crest_spark import session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = session.get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of a run readable in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------- statistics
def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return float(s[max(0, math.ceil(q / 100.0 * len(s)) - 1)])


def gmean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


# ---------------------------------------------------------------- hash
def canon_frame(table):
    """Arrow table -> pandas frame in the oracle canonicalisation: columns
    sorted by lower-cased name, integers as int64, floats as float64 (the
    exact double, as ``repr`` compares it), timestamps as integer
    microseconds without zone, decimals and nested values as text."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cols = {}
    for name in sorted(table.column_names, key=str.lower):
        col = table.column(name)
        t = col.type
        if pa.types.is_timestamp(t):
            col = pc.cast(col.cast(pa.timestamp("us", t.tz)), pa.int64())
        elif pa.types.is_integer(t):
            col = col.cast(pa.int64())
        elif pa.types.is_floating(t):
            col = col.cast(pa.float64())
        elif pa.types.is_decimal(t) or pa.types.is_nested(t) or pa.types.is_date(t):
            col = pa.array([None if v is None else str(v) for v in col.to_pylist()],
                           pa.string())
        cols[name.lower()] = col
    return pa.table(cols).to_pandas()


def content_hash(table) -> tuple[int, int]:
    """(rows, order-independent hash) of an Arrow table in the canonical
    shape of ``canon_frame``: equal multisets of rows hash equal."""
    import pandas as pd

    frame = canon_frame(table)
    if frame.empty:
        return 0, 0
    h = pd.util.hash_pandas_object(frame, index=False).to_numpy()
    return len(frame), int(h.sum(dtype="uint64"))


# ------------------------------------------------------- spark counters
def group_counters(sc, group: str) -> dict[str, float]:
    """Jobs, tasks, executor CPU, shuffle writes and spills of every job
    run under one job group, from Spark's status tracker and store."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stages = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    out = {"jobs": len(jobs), "tasks": 0, "executor_cpu_ms": 0.0,
           "shuffle_write_bytes": 0, "spill_bytes": 0}
    for sid in stages:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - a skipped stage never ran
            continue
        out["tasks"] += st.numCompleteTasks()
        out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


# -------------------------------------------------------------- tracer
class Tracer:
    """In-memory spans around public calls of the program.

    ``install`` wraps the named callables at class or module level; a
    wrapped call records (name, start, end, parent, op id) while
    ``enabled`` is set. Calls made from other driver threads, such as the
    streaming ``foreachBatch`` callback, are recorded with no parent."""

    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self.op_id = None
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
                   "op": self.op_id, "start": time.perf_counter(), "end": None}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                result = orig(*args, **kwargs)
                if on_result is not None and rec:
                    on_result(rec, result)
                return result

        setattr(owner, attr, traced)

    def install(self) -> None:
        from crest_spark import session
        from crest_spark.lakehouse.table import LakehouseTable
        from crest_spark.streaming.ingest import IngestionService

        self.wrap(session, "get_spark", "session.get_spark")
        self.wrap(IngestionService, "start", "streaming.IngestionService.start")
        for verb in ("append", "merge", "update", "delete", "scan"):
            self.wrap(LakehouseTable, verb, f"lakehouse.{verb}")
        self.wrap(
            LakehouseTable, "pruned_files", "lakehouse.pruned_files",
            on_result=lambda rec, files: rec.__setitem__("files", len(files)),
        )

    def durations_ms(self, name: str, op_ids=None) -> list[float]:
        return [
            (s["end"] - s["start"]) * 1e3
            for s in self.spans
            if s["name"] == name and s["end"] is not None
            and (op_ids is None or s["op"] in op_ids)
        ]

    def self_times_ms(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        covered by child spans."""
        child_cover: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_cover.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, last = 0.0, s["start"]
            for a, b in sorted(child_cover.get(s["id"], [])):
                a, b = max(a, last), min(b, s["end"])
                if b > a:
                    covered += b - a
                    last = b
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - covered) * 1e3
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"self_ms": self.self_times_ms(), "spans": self.spans}, fh)


# ------------------------------------------------------------- the run
class Run:
    """Bookkeeping shared by the workloads: op counts, correctness, the
    host readings taken around the timed phase, and the warm-up loop."""

    def __init__(self, t_start: float, seconds: float, trace: bool,
                 corrupt: bool = False):
        self.t_start = t_start
        self.seconds = seconds
        self.trace = trace
        # self-test hook: flips one expected hash so a check must fail
        self.corrupt = corrupt
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.tracer = Tracer() if trace else None
        self.peak = procstat.PeakRss()
        self.warm_cpu: list[float] = []
        self.timed_cpu: list[float] = []
        # (traced, wall ms per op) of every timed unit, in order
        self.units: list[tuple[bool, float]] = []

    def check(self, ok: bool, what: str, counted: bool = True) -> bool:
        """Record one output check; ``counted`` is False for warm-up ops,
        whose failures fail the run but are not timed ops."""
        if self.corrupt and counted:
            ok, self.corrupt = False, False
        if not ok:
            self.failures.append(what)
        return ok

    def warm_up(self, unit, units: int) -> None:
        """Run ``units`` untraced units of the workload's own op mix
        before timing. ``unit(traced)`` returns the unit's CPU-ms per op,
        kept in ``warm_cpu`` so the log shows how far per-op CPU was
        still falling."""
        for _ in range(units):
            self.warm_cpu.append(round(unit(False), 1))

    def time_units(self, unit) -> None:
        """Run timed units while ``more`` allows, traced as
        ``traced_unit`` says, keeping their CPU-ms per op in
        ``timed_cpu``."""
        i = 0
        while self.more(i):
            self.timed_cpu.append(round(unit(self.traced_unit(i)), 1))
            i += 1

    def begin_timed(self) -> None:
        self.setup_s = time.perf_counter() - self.t_start
        self.control_start = procstat.control_kernel_ms()
        self.ticks0 = procstat.host_ticks()
        self.cpu0 = procstat.tree_cpu()
        self.t0 = time.perf_counter()
        self.deadline = self.t0 + self.seconds

    def more(self, i: int) -> bool:
        """Whether to start timed unit ``i``: while time is left, and at
        least until one unit (a traced run: one traced unit) has run."""
        return time.perf_counter() < self.deadline or i < (2 if self.trace else 1)

    def traced_unit(self, i: int) -> bool:
        """Whether timed unit ``i`` is traced. A traced run goes untraced,
        traced, traced, untraced (ABBA) and repeats, so that the drift of
        a still-warming JVM cancels in ``trace_overhead``."""
        return self.trace and i % 4 in (1, 2)

    def unit_done(self, traced: bool, wall_ms_per_op: float) -> None:
        self.units.append((traced, wall_ms_per_op))

    def trace_overhead(self) -> float:
        """Each traced unit's wall per op over the mean of the nearest
        untraced unit before it and after it, averaged, minus one."""
        ratios = []
        for i, (traced, v) in enumerate(self.units):
            if not traced:
                continue
            near = [u for t, u in reversed(self.units[:i]) if not t][:1] + \
                [u for t, u in self.units[i + 1:] if not t][:1]
            ratios.append(v / (sum(near) / len(near)))
        return sum(ratios) / len(ratios) - 1

    def end_timed(self) -> dict[str, float]:
        wall = time.perf_counter() - self.t0
        cpu = procstat.tree_cpu()
        steal = procstat.steal_frac(self.ticks0, procstat.host_ticks())
        control_end = procstat.control_kernel_ms()
        self.peak.sample()
        d = {k: cpu[k] - self.cpu0[k] for k in cpu}
        return {
            "proc.jvm_cpu_s": d["jvm"],
            "proc.driver_py_cpu_s": d["driver_py"],
            "proc.cpu_util": d["total"] / (wall * CORES),
            "proc.peak_rss_mb": self.peak.peak_mb,
            "box.steal_frac": steal,
            "box.control_ms_start": self.control_start,
            "box.control_ms_end": control_end,
            "box.control_ms": (self.control_start + control_end) / 2,
        }


@contextmanager
def op_clock():
    """Times one op into the yielded record: ``wall``, and process-tree
    CPU ``cpu`` with its Python-worker part ``worker``, all in ms. The
    record stays empty if the op raised."""
    rec: dict[str, float] = {}
    c0 = procstat.tree_cpu()
    t0 = time.perf_counter()
    yield rec
    wall = (time.perf_counter() - t0) * 1e3
    c1 = procstat.tree_cpu()
    rec.update(wall=wall, cpu=(c1["total"] - c0["total"]) * 1e3,
               worker=(c1["pyworker"] - c0["pyworker"]) * 1e3)


def table_layout(table, kind: str) -> dict[str, float]:
    """Commit-log facts read after the run through ``snapshots()``,
    ``row_count()`` and the file system: files each append added, files
    each rewrite removed, log bytes per commit, data bytes per live row,
    live files. An append commit lists the files it added; any other
    commit lists the whole live set."""
    snaps = table.snapshots()
    live: set[str] = set()
    added, removed = [], []
    for snap in snaps:
        if snap.operation == "append":
            added.append(len(snap.files))
            live |= set(snap.files)
        else:
            if snap.operation != "create":
                removed.append(len(live - set(snap.files)))
            live = set(snap.files)
    log_bytes = sum(
        os.path.getsize(os.path.join(table.log_path, f))
        for f in os.listdir(table.log_path)
    )
    data_bytes = sum(os.path.getsize(f) for f in live if os.path.exists(f))
    out = {
        "lakehouse.log_bytes_per_commit": log_bytes / max(len(snaps), 1),
        "lakehouse.data_bytes_per_row": data_bytes / max(table.row_count(), 1),
        "lakehouse.live_files": len(live),
    }
    if kind == "append":
        out["lakehouse.files_per_commit"] = median(added)
    else:
        out["lakehouse.files_rewritten_per_write"] = median(removed)
    return out
