"""Central query/operator registry.

Every implemented operator from SURVEY.md §2 registers here with:
  - ``fn(spark, sf_dir) -> DataFrame``  — the Spark-native implementation
  - ``oracle``                          — equivalent DuckDB-runnable ANSI SQL
                                          (None => non-SQL-expressible; the
                                          driver then records a rows-only
                                          check)

``__spark_entry__.py`` exposes this registry to the driver.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from crest_spark.session import _DEFAULTS

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""
    module: str = ""


REGISTRY: dict[str, QuerySpec] = {}

# Session confs every query needs regardless of who built the session (the
# driver constructs its own SparkSession without our factory): nanosecond
# parquet timestamps are unreadable in Spark 4 without nanosAsLong, and
# epoch outputs / timestamp literals require a UTC session to match the
# (naive-timestamp) DuckDB oracle. Values come from the session factory's
# one table (``session._DEFAULTS``).
_REQUIRED_CONFS = (
    "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    # perf (all runtime-settable): AQE coalesces the vanilla 200-partition
    # shuffles down to the data's real size at any scale factor
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.execution.arrow.pyspark.enabled",
)


def _ensure_package_shipped(spark: SparkSession) -> None:
    """Ship crest_spark to Python workers via addPyFile.

    Driver processes that bootstrap with ``sys.path.insert`` (rather than
    PYTHONPATH) don't propagate the package to worker processes, so any
    closure referencing module-level helpers dies with
    ModuleNotFoundError. A one-time zip + addPyFile makes every worker
    able to import the package regardless of how the driver found it.
    """
    if getattr(spark, "_crest_pkg_shipped", False):
        return
    import os
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"crest_spark_pkg_{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # e.g. Connect sessions; closures are self-contained anyway
    spark._crest_pkg_shipped = True


def ensure_session_confs(spark: SparkSession) -> None:
    _ensure_package_shipped(spark)
    for k in _REQUIRED_CONFS:
        v = _DEFAULTS[k]
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            spark.conf.set(k, v)
    # Stateful streaming ops can't use AQE coalescing; if the session still
    # has the untouched Spark default (200), right-size for local runs.
    # A deliberately configured value is left alone. Core-derived, not a
    # constant (r14): one task per core, floor 16 — identical to the old
    # pinned 32 on a 32-core master, half the task waves on smaller ones.
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        width = max(spark.sparkContext.defaultParallelism, 16)
        spark.conf.set("spark.sql.shuffle.partitions", str(width))


def register(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_session_confs(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        REGISTRY[name] = QuerySpec(
            name=name,
            fn=wrapped,
            oracle=oracle,
            tags=tags,
            doc=(fn.__doc__ or "").strip(),
            module=fn.__module__,
        )
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module so registrations run, then return REGISTRY."""
    import crest_spark.operators.behavioral  # noqa: F401
    import crest_spark.operators.curation  # noqa: F401
    import crest_spark.operators.dedup  # noqa: F401
    import crest_spark.operators.hierarchy  # noqa: F401
    import crest_spark.operators.matview_query  # noqa: F401
    import crest_spark.operators.multimodal  # noqa: F401
    import crest_spark.operators.multimodal_codec  # noqa: F401
    import crest_spark.operators.relational  # noqa: F401
    import crest_spark.operators.similarity  # noqa: F401
    import crest_spark.operators.skew  # noqa: F401
    import crest_spark.operators.stats  # noqa: F401
    import crest_spark.operators.subqueries  # noqa: F401
    import crest_spark.operators.temporal  # noqa: F401
    import crest_spark.operators.text  # noqa: F401
    import crest_spark.operators.timeseries  # noqa: F401
    import crest_spark.operators.tpch_shapes  # noqa: F401
    import crest_spark.operators.tpch_shapes2  # noqa: F401
    import crest_spark.operators.udf  # noqa: F401
    import crest_spark.operators.vector_index  # noqa: F401
    import crest_spark.streaming.queries  # noqa: F401

    return REGISTRY


# Entries whose implementation changed since their last driver check:
# tier 1, right after never-checked entries, so the next fixed-size
# prefix re-certifies them first. Drop a name once a committed
# CORRECTNESS_rN.json has checked it again.
_RECHECK = (
    # NOT IN -> NOT EXISTS precondition: footer null-count guard
    "q24c_in_subquery",
    # connected_components' overflow guard moved to DataFrame.isEmpty()
    "dedup_components", "dedup_embedding_components", "dedup_canonical",
    # call a lakehouse verb that now runs on the one retry driver
    # (LakehouseTable._retrying) ...
    "mv_cdc_fold", "lake_retention_delete", "lake_mor_upsert",
    "lake_mor_cdf", "mv_mor_cdc_fold", "lake_time_travel",
    "lake_wap_publish", "lake_branch_ff", "lake_mor_sync",
    "lake_schema_rename_drop", "lake_nested_evolution",
    "lake_tail_compaction_lookup",
    # ... or reach one through a helper: IncrementalAggView.refresh
    # (merge), ivf_add (tail compact) and rebuild_if_drifted
    "mv_hourly_rollup", "mv_percentile_rollup", "mv_topk_rollup",
    "lake_index_rebuild_roundtrip",
)


def _last_checked() -> dict[str, int]:
    """Driver-check rotation memory: the round each query was LAST
    checked in — the highest N whose committed ``CORRECTNESS_rN.json``
    (beside the package) names it; absent = never checked — with the
    ``_RECHECK`` entries pinned to tier 1."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m is None:
            continue
        with open(path) as fh:
            for name in json.load(fh):
                out[name] = max(out.get(name, 0), int(m.group(1)))
    for name in _RECHECK:
        out[name] = 1
    return out


def ordered_registry() -> dict[str, QuerySpec]:
    """The registry re-ordered so the driver's fixed-size prefix is
    maximally informative: round-robin passes over the defining modules
    in ascending last-checked round — never-checked queries first (tier
    0: this round's additions need their first check), then the stalest
    previously-checked tier (round 2), and so on — with oracle-bearing
    entries first within each module queue (registration order
    otherwise preserved).

    Why: the correctness driver checks a fixed-size prefix of
    ``queries()`` in iteration order. Round-robin keeps any prefix
    spanning the operator categories; staleness-ascending ordering makes
    each round's prefix re-certify the entries whose last green is
    oldest — the ones with the most implementation churn since — instead
    of the same representatives every round.

    Tiers come from ``_last_checked()``: the committed driver results
    (``CORRECTNESS_rN.json``) give each entry's last-checked round, and
    ``_RECHECK`` pins entries changed since then to tier 1.
    """
    specs = load_all()
    last = _last_checked()
    tiers = sorted({last.get(s.name, 0) for s in specs.values()})

    def queues_for(tier: int) -> list[list[QuerySpec]]:
        by_module: dict[str, list[QuerySpec]] = {}
        for spec in specs.values():
            if last.get(spec.name, 0) == tier:
                by_module.setdefault(spec.module, []).append(spec)
        for queue in by_module.values():
            queue.sort(key=lambda s: s.oracle is None)  # oracles first
        return list(by_module.values())

    ordered: dict[str, QuerySpec] = {}
    for tier in tiers:
        queues = queues_for(tier)
        i = 0
        while True:
            hit = False
            for queue in queues:
                if i < len(queue):
                    ordered[queue[i].name] = queue[i]
                    hit = True
            if not hit:
                break
            i += 1
    return ordered
