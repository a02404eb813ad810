"""Every metric the benchmark reports: name, unit, direction and, for the
end-to-end metrics, the bound a change may worsen the parent's median by.

The end-to-end metrics (``--trace 0``) are defined on every workload. Each
per-layer metric (``--trace 1``) names the workloads that run its layer;
a workload must supply a value for every metric of its own layers, and
the others read 0 (``not_run``). ``BENCHMARK.json`` lists the same names
and units (the self-test holds them equal).
"""

from __future__ import annotations

from wl_analytics import ENTRIES

I, L, A = "ingest", "lake_mix", "analytics"
ALL = (I, L, A)

# (name, unit, better, bound). The wall-time metrics did not repeat
# within a tenth over ten runs on every workload; they are per-layer below.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("cpu_ms_per_op", "ms", "lower", 0.25),
]

# (name, unit, better, workloads that run the layer)
PER_LAYER = [
    # end-to-end wall time and CPU, from the traced units of the run
    ("ops_per_s", "1/s", "higher", ALL),
    ("op_gmean_ms", "ms", "lower", ALL),
    ("cpu_ms_gmean", "ms", "lower", ALL),
    # session
    ("session.start_s", "s", "lower", ALL),
    ("session.warmup_s", "s", "lower", ALL),
    # workload latencies and rates, from the traced units of the run
    ("rows_per_s", "rows/s", "higher", (I,)),
    ("batch_p50_ms", "ms", "lower", (I,)),
    ("batch_p90_ms", "ms", "lower", (I,)),
    ("batch_samples", "count", "higher", (I,)),
    ("cpu_s_per_mrow", "s", "lower", (I,)),
    ("merge_p50_ms", "ms", "lower", (L,)),
    ("lookup_p50_ms", "ms", "lower", (L,)),
    ("lookup_p90_ms", "ms", "lower", (L,)),
    ("lookup_samples", "count", "higher", (L,)),
    # sources.flight_source
    ("flight.list_flights_per_batch", "count", "lower", (I,)),
    ("flight.get_info_per_batch", "count", "lower", (I,)),
    ("flight.do_get_per_batch", "count", "lower", (I,)),
    ("streaming.latest_offset_ms_p50", "ms", "lower", (I,)),
    # streaming.ingest
    ("streaming.add_batch_ms_p50", "ms", "lower", (I,)),
    ("streaming.wal_commit_ms_p50", "ms", "lower", (I,)),
    ("streaming.commit_offsets_ms_p50", "ms", "lower", (I,)),
    ("streaming.query_planning_ms_p50", "ms", "lower", (I,)),
    ("streaming.batches", "count", "higher", (I,)),
    ("streaming.rows_per_batch", "rows", "higher", (I,)),
    # lakehouse.table: append
    ("lakehouse.append_ms_p50", "ms", "lower", (I,)),
    ("lakehouse.append_share_of_add_batch", "frac", "lower", (I,)),
    ("lakehouse.files_per_commit", "count", "lower", (I,)),
    ("lakehouse.data_bytes_per_row", "bytes", "lower", (I, L)),
    ("lakehouse.log_bytes_per_commit", "bytes", "lower", (I, L)),
    ("spark.jobs_per_batch", "count", "lower", (I,)),
    # lakehouse.table: DML
    ("lakehouse.update_ms_p50", "ms", "lower", (L,)),
    ("lakehouse.delete_ms_p50", "ms", "lower", (L,)),
    ("lakehouse.files_rewritten_per_write", "count", "lower", (L,)),
    ("lakehouse.commit_retries", "count", "lower", (L,)),
    ("spark.jobs_per_merge", "count", "lower", (L,)),
    # lakehouse.table: read
    ("lakehouse.pruned_files_ms_p50", "ms", "lower", (L,)),
    ("lakehouse.files_per_lookup", "count", "lower", (L,)),
    ("lakehouse.live_files", "count", "lower", (I, L)),
    ("spark.jobs_per_lookup", "count", "lower", (L,)),
    # operators, one group per analytics entry
    *[
        m
        for e in ENTRIES
        for m in (
            (f"op.{e}.ms", "ms", "lower", (A,)),
            (f"op.{e}.cpu_ms", "ms", "lower", (A,)),
            (f"spark.{e}.jobs", "count", "lower", (A,)),
            (f"spark.{e}.tasks", "count", "lower", (A,)),
            (f"spark.{e}.executor_cpu_ms", "ms", "lower", (A,)),
            (f"spark.{e}.shuffle_write_bytes", "bytes", "lower", (A,)),
            (f"spark.{e}.spill_bytes", "bytes", "lower", (A,)),
        )
    ],
    # Python/Arrow worker boundary
    ("proc.pyworker_cpu_ms", "ms", "lower", ALL),
    # process tree over the timed phase
    ("proc.jvm_cpu_s", "s", "lower", ALL),
    ("proc.driver_py_cpu_s", "s", "lower", ALL),
    ("proc.cpu_util", "frac", "higher", ALL),
    ("proc.peak_rss_mb", "MiB", "lower", ALL),
    # host: these explain noise and never rescale another metric
    ("box.steal_frac", "frac", "lower", ALL),
    ("box.control_ms", "ms", "lower", ALL),
    ("box.control_ms_start", "ms", "lower", ALL),
    ("box.control_ms_end", "ms", "lower", ALL),
    # traced units against the untraced units beside them
    ("trace.overhead_frac", "frac", "lower", ALL),
]


def not_run(workload: str) -> dict[str, float]:
    """0 for every per-layer metric whose layer the workload does not run."""
    return {name: 0.0 for name, _u, _b, wls in PER_LAYER if workload not in wls}


def emit(values: dict[str, float], trace: bool) -> dict[str, dict]:
    """The ``metrics`` object of the result line: every metric of the
    run's kind, in list order, each with its unit. A metric without a
    value is an error, not a 0."""
    spec = PER_LAYER if trace else END_TO_END
    missing = [name for name, *_ in spec if name not in values]
    if missing:
        raise KeyError(f"no value for metrics {missing}")
    return {name: {"value": float(values[name]), "unit": unit}
            for name, unit, *_ in spec}
