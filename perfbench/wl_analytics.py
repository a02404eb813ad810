"""Workload ``analytics``: registry entries through the noop sink.

A fixed list of registry entries, each materialised through the noop sink
over the generated parquet as ``bench.py`` does. One op is one entry run;
passes over the list repeat until the time is up. Every entry's output is
checked once per run, in set-up: its row count, column names and
canonical content hash must equal those of its DuckDB oracle over the
same files. An entry whose check failed fails all of its timed ops.
"""

from __future__ import annotations

import os
import time

from common import content_hash, gmean, group_counters, median, op_clock

ENTRIES = (
    "q12_frame_window",  # Spark execution: a frame window over orders
    "q17_json_extract",  # expression evaluation: JSON paths over events
    "udf_scalar_pandas",  # the Python/Arrow worker boundary
)


def fingerprint(table) -> list:
    """[rows, content hash, sorted lower-cased column names] of a result."""
    return [*content_hash(table), sorted(c.lower() for c in table.column_names)]


def oracle_hashes(data_dir: str, specs) -> dict[str, list]:
    """Each entry's expected (rows, hash) from its DuckDB oracle."""
    import duckdb

    import datagen

    con = duckdb.connect()
    for name in datagen.TABLES:
        path = os.path.join(data_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    out = {}
    for e in ENTRIES:
        out[e] = fingerprint(con.execute(specs[e].oracle).arrow())
    con.close()
    return out


class Analytics:
    def __init__(self, run, work: str, data_dir: str):
        self.run, self.work = run, work
        self.data_dir = data_dir
        self.records: list[dict] = []
        self.timing = False
        self.n_ops = 0

    def setup(self) -> None:
        from common import start_spark
        from crest_spark.registry import load_all

        self.specs = load_all()
        self.expected = oracle_hashes(self.data_dir, self.specs)
        t0 = time.perf_counter()
        self.spark = start_spark(self.work)
        self.session_start_s = time.perf_counter() - t0
        self.verify()

    def verify(self) -> None:
        """Check every entry's output once (this pass also warms up)."""
        self.ok = {}
        for e in ENTRIES:
            got = fingerprint(self.specs[e].fn(self.spark, self.data_dir).toArrow())
            want = self.expected[e]
            self.ok[e] = self.run.check(got == want, f"{e}: {got} != {want}")

    def unit(self, traced: bool) -> float:
        """One pass over the entries; returns CPU-ms per op."""
        tracer = self.run.tracer
        cpu_ms = wall_ms = 0.0
        for e in ENTRIES:
            self.n_ops += 1
            op = f"{e}-{self.n_ops}"
            if tracer is not None:
                tracer.enabled, tracer.op_id = traced, op
            if traced:
                self.spark.sparkContext.setJobGroup(op, op)
            with op_clock() as rec:
                self.specs[e].fn(self.spark, self.data_dir).write.format(
                    "noop").mode("overwrite").save()
            if tracer is not None:
                tracer.enabled = False
            cpu_ms += rec["cpu"]
            wall_ms += rec["wall"]
            if self.timing:
                rec.update(entry=e, op=op, traced=traced)
                if traced:
                    rec.update(group_counters(self.spark.sparkContext, op))
                self.records.append(rec)
        self.run.peak.sample()
        if self.timing:
            self.run.unit_done(traced, wall_ms / len(ENTRIES))
        return cpu_ms / len(ENTRIES)

    def start_timing(self) -> None:
        self.timing = True

    def finish(self) -> None:
        pass  # every entry was checked in set-up

    def stop_services(self) -> None:
        pass

    # ------------------------------------------------------------ metrics
    def count(self) -> None:
        for r in self.records:
            self.run.attempted += 1
            if not self.ok[r["entry"]]:
                self.run.failed += 1

    def summary(self, traced: bool) -> dict[str, float]:
        recs = [r for r in self.records if r["traced"] == traced]
        wall = sum(r["wall"] for r in recs) / 1e3
        by = {e: [r for r in recs if r["entry"] == e] for e in ENTRIES}
        return {
            "ops_per_s": len(recs) / wall if wall else 0.0,
            "op_gmean_ms": gmean([median([r["wall"] for r in by[e]]) for e in ENTRIES]),
            "cpu_ms_gmean": gmean([median([r["cpu"] for r in by[e]]) for e in ENTRIES]),
            "cpu_ms_per_op": sum(r["cpu"] for r in recs) / max(len(recs), 1),
        }

    def layer_metrics(self) -> dict[str, float]:
        tr = [r for r in self.records if r["traced"]]
        m = {"proc.pyworker_cpu_ms": sum(r["worker"] for r in tr) / max(len(tr), 1)}
        for e in ENTRIES:
            rs = [r for r in tr if r["entry"] == e]
            m[f"op.{e}.ms"] = median([r["wall"] for r in rs])
            m[f"op.{e}.cpu_ms"] = median([r["cpu"] for r in rs])
            for k in ("jobs", "tasks", "executor_cpu_ms", "shuffle_write_bytes",
                      "spill_bytes"):
                m[f"spark.{e}.{k}"] = median([r[k] for r in rs])
        return m

