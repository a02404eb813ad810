"""Workload ``lake_mix``: the lakehouse commit path, writes beside reads.

One range-clustered lakehouse table is built from ``orders``. A seeded
stream of blocks then runs against it; each block is one copy-on-write
``merge`` upsert over a key range, one ``update`` and one ``delete`` on
small ranges, and ``LOOKUPS_PER_BLOCK`` multi-key ``scan`` point
lookups, in a seeded order. The benchmark keeps its own key -> row model:
every lookup must equal the model and the final table must hash to it.

Where the sizes come from: a merge upserts one crest micro-batch, the
2,500 rows of an ``ingest`` tick; a lookup is the 8-key IN-list of the
registry entry ``lake_batch_point_lookup``, and an update or a delete
touches a range of the same 8 keys. The 3 writes to 7 lookups per block
are an assumption, not measured traffic (see ``README.md``).
"""

from __future__ import annotations

import os
import random
import time

import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from common import (
    content_hash, gmean, group_counters, median, op_clock, pct, table_layout,
)

MERGE_KEYS = 2_500
LOOKUP_KEYS = 8
UPDATE_KEYS = DELETE_KEYS = LOOKUP_KEYS
LOOKUPS_PER_BLOCK = 7
CLUSTER_FILES = 16
CLASSES = ("merge", "update", "delete", "lookup")
KEY = "o_orderkey"


class LakeMix:
    def __init__(self, run, work: str, seed: int, sf: float):
        self.run, self.work, self.seed, self.sf = run, work, seed, sf
        self.rng = random.Random(seed)
        self.n_ops = 0
        self.timing, self.records = False, []

    def setup(self) -> None:
        from common import start_spark
        from crest_spark.lakehouse.catalog import LakehouseCatalog

        orders = datagen.orders(self.sf, self.seed)
        self.schema = orders.schema
        self.model = {row[KEY]: row for row in orders.to_pylist()}
        self.max_key = max(self.model)
        self.new_date = orders.column("o_orderdate")[0].as_py()
        path = os.path.join(self.work, "orders.parquet")
        pq.write_table(orders, path)
        t0 = time.perf_counter()
        self.spark = start_spark(self.work)
        self.session_start_s = time.perf_counter() - t0
        catalog = LakehouseCatalog(os.path.join(self.work, "lake"))
        df = self.spark.read.parquet(path)
        self.table = catalog.get_or_create_table("orders", df.schema)
        self.table.append(df, cluster_by=[KEY], cluster_partitions=CLUSTER_FILES)

    # ---------------------------------------------------------------- ops
    def _merge(self):
        lo = self.rng.randrange(0, self.max_key + 1)
        rows = []
        for k in range(lo, lo + MERGE_KEYS):
            base = self.model.get(k)
            row = dict(base) if base else {
                KEY: k, "o_custkey": self.rng.randrange(0, 15_000),
                "o_orderdate": self.new_date,
                "o_orderpriority": "3-MEDIUM",
            }
            row["o_totalprice"] = round(self.rng.uniform(1000, 500000), 2)
            row["o_orderstatus"] = self.rng.choice("FOP")
            rows.append(row)
        updates = self.spark.createDataFrame(
            pa.Table.from_pylist(rows, schema=self.schema).to_pandas(),
            schema=self.table.schema(),
        )

        def apply():
            self.table.merge(self.spark, updates, key=KEY)
            for r in rows:
                self.model[r[KEY]] = r
            self.max_key = max(self.max_key, lo + MERGE_KEYS - 1)
        return apply

    def _update(self):
        lo = self.rng.randrange(0, self.max_key + 1)
        hi = lo + UPDATE_KEYS - 1

        def apply():
            self.table.update(self.spark, {KEY: (lo, hi)},
                              {"o_totalprice": "o_totalprice + 1.5"})
            for k in range(lo, hi + 1):
                if k in self.model:
                    self.model[k] = dict(self.model[k],
                                         o_totalprice=self.model[k]["o_totalprice"] + 1.5)
        return apply

    def _delete(self):
        lo = self.rng.randrange(0, self.max_key + 1)
        hi = lo + DELETE_KEYS - 1

        def apply():
            self.table.delete(self.spark, {KEY: (lo, hi)})
            for k in range(lo, hi + 1):
                self.model.pop(k, None)
        return apply

    def _lookup(self):
        keys = sorted(self.rng.randrange(0, self.max_key + 1) for _ in range(LOOKUP_KEYS))

        def apply():
            got = self.table.scan(self.spark, {KEY: keys}).toArrow()

            def verify():
                want = [self.model[k] for k in dict.fromkeys(keys) if k in self.model]
                expect = content_hash(pa.Table.from_pylist(want, schema=self.schema))
                return content_hash(got) == expect, f"lookup {keys}"
            return verify
        return apply

    def unit(self, traced: bool) -> float:
        """One seeded block of the op mix; returns CPU-ms per op."""
        kinds = ["merge", "update", "delete"] + ["lookup"] * LOOKUPS_PER_BLOCK
        self.rng.shuffle(kinds)
        cpu_ms = wall_ms = 0.0
        tracer = self.run.tracer
        for kind in kinds:
            apply = getattr(self, f"_{kind}")()
            self.n_ops += 1
            op = f"{kind}-{self.n_ops}"
            if tracer is not None:
                tracer.enabled, tracer.op_id = traced, op
            if traced:
                self.spark.sparkContext.setJobGroup(op, op)
            try:
                with op_clock() as rec:
                    verify = apply()
                ok, what = verify() if verify else (True, kind)
            except Exception as exc:  # noqa: BLE001 - counted, not fatal
                rec = {"wall": 0.0, "cpu": 0.0, "worker": 0.0}
                ok, what = False, f"{op}: {exc!r}"[:300]
            if tracer is not None:
                tracer.enabled = False
            cpu_ms += rec["cpu"]
            wall_ms += rec["wall"]
            rec.update(kind=kind, op=op, traced=traced,
                       ok=self.run.check(ok, what, counted=self.timing))
            if self.timing:
                if traced:
                    rec.update(group_counters(self.spark.sparkContext, op))
                self.records.append(rec)
        self.run.peak.sample()
        if self.timing:
            self.run.unit_done(traced, wall_ms / len(kinds))
        return cpu_ms / len(kinds)

    def start_timing(self) -> None:
        self.timing = True

    def stop_services(self) -> None:
        pass

    def finish(self) -> None:
        """Final check: the whole table against the model."""
        self.run.attempted += 1
        got = content_hash(self.table.read(self.spark).toArrow())
        want = content_hash(pa.Table.from_pylist(list(self.model.values()),
                                                 schema=self.schema))
        if not self.run.check(got == want, f"final table {got} != model {want}"):
            self.run.failed += 1

    # ------------------------------------------------------------ metrics
    def count(self) -> None:
        for r in self.records:
            self.run.attempted += 1
            if not r["ok"]:
                self.run.failed += 1

    def summary(self, traced: bool) -> dict[str, float]:
        """End-to-end metrics over the timed ops of one tracing state."""
        recs = [r for r in self.records if r["traced"] == traced]
        wall = sum(r["wall"] for r in recs) / 1e3
        by = {c: [r for r in recs if r["kind"] == c] for c in CLASSES}
        return {
            "ops_per_s": len(recs) / wall if wall else 0.0,
            "op_gmean_ms": gmean([median([r["wall"] for r in by[c]]) for c in CLASSES]),
            "cpu_ms_gmean": gmean([median([r["cpu"] for r in by[c]]) for c in CLASSES]),
            "cpu_ms_per_op": sum(r["cpu"] for r in recs) / max(len(recs), 1),
        }

    def layer_metrics(self) -> dict[str, float]:
        from crest_spark.streaming.metrics import commit_conflict_counts

        tr = [r for r in self.records if r["traced"]]
        by = {c: [r for r in tr if r["kind"] == c] for c in CLASSES}
        tracer = self.run.tracer
        ops = {r["op"] for r in tr}
        lookups = [r["wall"] for r in by["lookup"]]
        lookup_ops = {r["op"] for r in by["lookup"]}
        files = [s["files"] for s in tracer.spans
                 if s["name"] == "lakehouse.pruned_files" and s["op"] in lookup_ops]
        m = {
            "merge_p50_ms": median([r["wall"] for r in by["merge"]]),
            "lookup_p50_ms": median(lookups),
            "lookup_p90_ms": pct(lookups, 90),
            "lookup_samples": len(lookups),
            "lakehouse.update_ms_p50": median(tracer.durations_ms("lakehouse.update", ops)),
            "lakehouse.delete_ms_p50": median(tracer.durations_ms("lakehouse.delete", ops)),
            "lakehouse.commit_retries": sum(commit_conflict_counts().values()),
            "spark.jobs_per_merge": median([r["jobs"] for r in by["merge"]]),
            "lakehouse.pruned_files_ms_p50": median(
                tracer.durations_ms("lakehouse.pruned_files", lookup_ops)),
            "lakehouse.files_per_lookup": median(files),
            "spark.jobs_per_lookup": median([r["jobs"] for r in by["lookup"]]),
            "proc.pyworker_cpu_ms": sum(r["worker"] for r in tr) / max(len(tr), 1),
        }
        m.update(table_layout(self.table, "dml"))
        return m

