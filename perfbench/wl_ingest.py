"""Workload ``ingest``: crest's own Flight -> Parquet -> commit loop.

An in-process Arrow Flight server publishes ticks of 2,500 ``events``
rows; one long-running ``IngestionService`` consumes them with
``trigger_interval="0 seconds"`` and one flight per micro-batch (append
mode, the service's defaults otherwise). Each round publishes
``TICKS_PER_ROUND`` ticks and drains them with ``processAllAvailable()``;
the query is never restarted. After every round the table's row count and
content hash must equal those of everything published.

One op is one non-empty micro-batch; its latency is Spark's
``triggerExecution`` for that batch.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.flight as fl

import datagen
import procstat
from common import content_hash, median, pct, table_layout

ROWS_PER_TICK = 2_500
TICKS_PER_ROUND = 4
USERS = 1_500  # the sf0.1 user domain
SCHEMA_DDL = ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
              "event_type STRING, value DOUBLE, props STRING")


class TickServer(fl.FlightServerBase):
    """Changelog-shaped Flight server: tick N is flight ``events/tick-N``
    with one endpoint whose ticket is the flight name.

    Counts every RPC made while some published tick has not been fetched
    yet, i.e. on behalf of a micro-batch. An idle stream re-lists the
    flights every few milliseconds; those polls are counted apart, in
    ``idle_lists``, because their number depends on timing."""

    def __init__(self):
        super().__init__("grpc://127.0.0.1:0")
        self.tables: dict[str, pa.Table] = {}
        self.fetched: set[str] = set()
        self.rpc = {"list_flights": 0, "get_flight_info": 0, "do_get": 0}
        self.idle_lists = 0

    def _count(self, rpc: str) -> None:
        if len(self.fetched) < len(self.tables):
            self.rpc[rpc] += 1
        else:
            self.idle_lists += 1

    @property
    def location(self) -> str:
        return f"grpc://127.0.0.1:{self.port}"

    def _info(self, name: str) -> fl.FlightInfo:
        t = self.tables[name]
        ep = fl.FlightEndpoint(name.encode(), [self.location])
        desc = fl.FlightDescriptor.for_path(*name.split("/"))
        return fl.FlightInfo(t.schema, desc, [ep], t.num_rows, t.nbytes)

    def list_flights(self, context, criteria):
        self._count("list_flights")
        for name in sorted(self.tables):
            yield self._info(name)

    def get_flight_info(self, context, descriptor):
        self._count("get_flight_info")
        return self._info("/".join(p.decode() for p in descriptor.path))

    def do_get(self, context, ticket):
        name = ticket.ticket.decode()
        self._count("do_get")
        self.fetched.add(name)
        return fl.RecordBatchStream(self.tables[name])


def make_tick(seed: int, n: int) -> pa.Table:
    t = datagen.events_table(
        np.random.default_rng([seed, n]), ROWS_PER_TICK, USERS,
        first_id=n * ROWS_PER_TICK,
    )
    # Flight carries Arrow types verbatim and Spark has no nanosecond
    # timestamp type, so the producer publishes microseconds
    return t.set_column(1, "ts", t.column("ts").cast(pa.timestamp("us")))


class Ingest:
    def __init__(self, run, work: str, seed: int):
        self.run, self.work, self.seed = run, work, seed
        self.next_tick = 0
        self.expected = [0, 0]  # rows, hash of everything published
        self.last_batch = -1
        self.timing = False
        self.rounds: list[dict] = []

    def setup(self) -> None:
        from common import start_spark
        from crest_spark.streaming.ingest import (
            IngestConfig, IngestionService, SourceSpec,
        )

        t0 = time.perf_counter()
        self.spark = start_spark(self.work)
        self.session_start_s = time.perf_counter() - t0
        self.server = TickServer()
        cfg = IngestConfig(
            warehouse=os.path.join(self.work, "lake"),
            checkpoint_root=os.path.join(self.work, "checkpoints"),
            trigger_interval="0 seconds",
            sources=[SourceSpec(
                name="events", flight_location=self.server.location,
                flight_prefix="events", files_per_trigger=1,
                flight_schema=SCHEMA_DDL,
            )],
        )
        self.service = IngestionService(self.spark, cfg)
        self.service.start()
        self.query = self.service.queries[0]
        self.table = self.service.catalog.table("events")

    def round(self, traced: bool) -> dict:
        """Publish one round of ticks, drain it, check the table: its row
        count, and the content of the rows this round added."""
        first_id = self.next_tick * ROWS_PER_TICK
        round_hash, ticks = [0, 0], {}
        for _ in range(TICKS_PER_ROUND):
            tick = make_tick(self.seed, self.next_tick)
            rows, h = content_hash(tick)
            round_hash = [round_hash[0] + rows, (round_hash[1] + h) % 2**64]
            ticks[f"events/tick-{self.next_tick:06d}"] = tick
            self.next_tick += 1
        self.expected = [self.expected[0] + round_hash[0],
                         (self.expected[1] + round_hash[1]) % 2**64]
        tracer = self.run.tracer
        if tracer is not None:
            tracer.enabled = traced
            tracer.op_id = f"round-{len(self.rounds)}"
        rpc0 = dict(self.server.rpc)
        jobs0 = self._jobs()
        c0 = procstat.tree_cpu()
        t0 = time.perf_counter()
        # the idle stream polls every few ms: publish the whole round at
        # once, after the clocks started, so no batch runs before them
        self.server.tables.update(ticks)
        self.query.processAllAvailable()
        wall = time.perf_counter() - t0
        c1 = procstat.tree_cpu()
        if tracer is not None:
            tracer.enabled = False
        progress = [p for p in self.query.recentProgress
                    if p["batchId"] > self.last_batch and p["numInputRows"] > 0]
        if progress:
            self.last_batch = max(p["batchId"] for p in self.query.recentProgress)
        rec = {
            "traced": traced, "wall_s": wall, "batches": len(progress),
            "rows": sum(p["numInputRows"] for p in progress),
            "cpu_ms": (c1["total"] - c0["total"]) * 1e3,
            "pyworker_ms": (c1["pyworker"] - c0["pyworker"]) * 1e3,
            "durations": [dict(p["durationMs"]) for p in progress],
            "rpc": {k: self.server.rpc[k] - rpc0[k] for k in rpc0},
            "jobs": self._jobs() - jobs0,
            "op": None if tracer is None else tracer.op_id,
        }
        self.run.peak.sample()
        if self.timing:
            self.run.unit_done(traced, wall * 1e3 / max(len(progress), 1))
        added = self.table.scan(
            self.spark, {"event_id": (first_id, self.next_tick * ROWS_PER_TICK - 1)}
        ).toArrow()
        got = [self.table.row_count(), *content_hash(added)]
        want = [self.expected[0], *round_hash]
        ok = self.run.check(
            got == want and rec["rows"] == round_hash[0],
            f"ingest round {len(self.rounds)}: table {got} != published {want}",
            counted=self.timing,
        )
        rec["ok"] = ok
        self.rounds.append(rec)
        return rec

    def _jobs(self) -> int:
        # every Spark job the session has run so far: the sink's own jobs
        # run from the foreachBatch callback, outside the query's job group
        return self.spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()

    def unit(self, traced: bool) -> float:
        """One round; returns CPU-ms per micro-batch."""
        rec = self.round(traced)
        return rec["cpu_ms"] / max(rec["batches"], 1)

    def start_timing(self) -> None:
        self.timed_from, self.timing = len(self.rounds), True

    def finish(self) -> None:
        """Final check: the whole table against everything published."""
        self.run.attempted += 1
        got = list(content_hash(self.table.read(self.spark).toArrow()))
        if not self.run.check(got == self.expected,
                              f"final table {got} != published {self.expected}"):
            self.run.failed += 1

    def stop_services(self) -> None:
        if hasattr(self, "service"):
            self.service.stop()
        if hasattr(self, "server"):
            self.server.shutdown()

    # ------------------------------------------------------------ metrics
    def count(self) -> None:
        for r in self.rounds[self.timed_from:]:
            self.run.attempted += r["batches"]
            if not r["ok"]:
                self.run.failed += r["batches"]

    def summary(self, traced: bool) -> dict[str, float]:
        """End-to-end metrics over the timed rounds of one tracing state."""
        rounds = [r for r in self.rounds[self.timed_from:] if r["traced"] == traced]
        batches = sum(r["batches"] for r in rounds)
        wall = sum(r["wall_s"] for r in rounds)
        lat = [d["triggerExecution"] for r in rounds for d in r["durations"]]
        return {
            "ops_per_s": batches / wall if wall else 0.0,
            "op_gmean_ms": median(lat),
            "cpu_ms_gmean": median([r["cpu_ms"] / r["batches"] for r in rounds if r["batches"]]),
            "cpu_ms_per_op": sum(r["cpu_ms"] for r in rounds) / max(batches, 1),
        }

    def layer_metrics(self) -> dict[str, float]:
        tr = [r for r in self.rounds[self.timed_from:] if r["traced"]]
        tracer = self.run.tracer
        ops = {r["op"] for r in tr}
        durs = [d for r in tr for d in r["durations"]]
        batches = sum(r["batches"] for r in tr) or 1
        rows = sum(r["rows"] for r in tr)
        wall = sum(r["wall_s"] for r in tr) or 1.0
        lat = [d["triggerExecution"] for d in durs]
        append_ms = tracer.durations_ms("lakehouse.append", ops)
        add_batch = [d.get("addBatch", 0) for d in durs]

        def per_batch(key):
            return sum(r["rpc"][key] for r in tr) / batches

        def p50(key):
            return median([d.get(key, 0) for d in durs])

        m = {
            "rows_per_s": rows / wall,
            "batch_p50_ms": median(lat),
            "batch_p90_ms": pct(lat, 90),
            "batch_samples": len(lat),
            "cpu_s_per_mrow": sum(r["cpu_ms"] for r in tr) / 1e3 / max(rows, 1) * 1e6,
            "flight.list_flights_per_batch": per_batch("list_flights"),
            "flight.get_info_per_batch": per_batch("get_flight_info"),
            "flight.do_get_per_batch": per_batch("do_get"),
            "streaming.latest_offset_ms_p50": p50("latestOffset"),
            "streaming.add_batch_ms_p50": p50("addBatch"),
            "streaming.wal_commit_ms_p50": p50("walCommit"),
            "streaming.commit_offsets_ms_p50": p50("commitOffsets"),
            "streaming.query_planning_ms_p50": p50("queryPlanning"),
            "streaming.batches": batches,
            "streaming.rows_per_batch": rows / batches,
            "lakehouse.append_ms_p50": median(append_ms),
            "lakehouse.append_share_of_add_batch": sum(append_ms) / max(sum(add_batch), 1),
            "spark.jobs_per_batch": sum(r["jobs"] for r in tr) / batches,
            "proc.pyworker_cpu_ms": sum(r["pyworker_ms"] for r in tr) / batches,
        }
        m.update(table_layout(self.table, "append"))
        return m

