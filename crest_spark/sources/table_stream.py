"""Lakehouse table as a streaming source (Spark 4 Python Data Source).

``spark.readStream.format("crest_table").option("warehouse", ...)
.option("table", ...)`` tails a commit-log table: each micro-batch reads
exactly the files appended since the last checkpointed version — the
pull side of the reference's push pipeline, turning any ingested table
into a stream for downstream jobs (the Iceberg "table as a changelog"
pattern).

Mechanics (public Python Data Source API, SPARK-44076):
- offsets are commit versions (``{"version": N}``), checkpointed by the
  engine like any streaming source — restart-safe for free;
- ``partitions(start, end)`` is ``plan_changes`` over the version range
  (metadata-only: one commit-log listing plus the range's records);
- ``read(partition)`` runs on executors and yields Arrow batches
  straight from the parquet file — no row-by-row Python;
- ``option("readChangeFeed", "true")`` streams the CHANGE FEED instead
  (Delta's streaming CDF): appended rows arrive as
  ``_change_type='insert'`` and merge/delete commits made with
  ``change_feed=True`` contribute their staged retractions/additions
  instead of failing the stream.

One change planner: ``plan_changes`` decides which files a version
range contributes, for this stream and ``LakehouseTable.read_changes``
alike, so an offset range replays to the rows a batch incremental read
of the same range returns:
- staged and branch commits contribute nothing; their rows arrive once,
  at the publish / fast-forward commit that lists them;
- rowset-preserving compactions contribute nothing;
- merge-on-read and overwrite commits contribute their staged change
  files under ``readChangeFeed`` and otherwise fail the range;
- a range that starts below the oldest retained version of an expired
  history fails: the expiry boundary record merged the whole expired
  prefix into its cutoff commit, so re-read the full snapshot.

Process model constraint: the data-source class is UNPICKLED in
dedicated Python processes (a driver-side source runner for offsets, a
planner worker for schema) that see neither the driver's ``sys.path``
nor ``addPyFile`` includes. This module is therefore self-contained —
stdlib + pyspark only, with its own tiny commit-log reads instead of
importing ``crest_spark.lakehouse`` — and ``register_table_stream``
registers it for cloudpickle pickle-by-value so the class definition
travels inside the pickle. That is also why the planner lives here and
the table imports it, not the other way round.

Register once per session: ``register_table_stream(spark)``.
"""

from __future__ import annotations

import json
import os
from typing import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition
from pyspark.sql.types import StructType

_LOG_DIR = "_log"


def _log_path(warehouse: str, namespace: str, table: str) -> str:
    return os.path.join(warehouse, namespace, table, _LOG_DIR)


def _versions(log: str) -> list[int]:
    if not os.path.isdir(log):
        return []
    return sorted(
        int(f[:-5])
        for f in os.listdir(log)
        if f.endswith(".json") and f[:-5].isdigit()
    )


def _commit(log: str, version: int) -> dict:
    with open(os.path.join(log, f"{version:020d}.json")) as fh:
        return json.load(fh)


def expired_before(vs: list[int], after: int) -> bool:
    """Whether a range starting after version ``after`` begins inside
    history that ``expire_snapshots`` merged into the oldest record of
    the log ``vs`` (a log that starts past version 1): such a range has
    no file delta."""
    return bool(vs) and vs[0] > 1 and after < vs[0]


def plan_changes(
    log: str, after: int, upto: int | None, cdf: bool
) -> list[tuple[str, str, int]]:
    """``(path, kind, version)`` of every file the commits in ``(after,
    upto]`` contribute: ``"ins"`` for appended data files, ``"chg"`` for
    staged change files. The rules are in the module docstring."""
    vs = _versions(log)
    if expired_before(vs, after):
        raise ValueError(
            f"incremental read from version {after}: history before "
            f"version {vs[0]} was expired into that version's record, "
            "so the range has no file delta; re-read the full snapshot"
        )
    out: list[tuple[str, str, int]] = []
    for v in vs:
        if v <= after or (upto is not None and v > upto):
            continue
        d = _commit(log, v)
        extra = d.get("extra", {})
        op = d.get("operation")
        mor = op == "rowdelta" or extra.get("deletes")
        if extra.get("staged") or extra.get("branch"):
            continue  # rows arrive at the publish / fast-forward commit
        if op == "replace" and extra.get("compaction") and not mor:
            continue  # rowset-preserving: empty delta
        if not (mor or op == "replace"):
            out.extend((f, "ins", v) for f in d["files"])
        elif cdf and extra.get("change_files") is not None:
            out.extend((f, "chg", v) for f in extra["change_files"])
        elif mor:
            raise ValueError(
                f"incremental read across a merge-on-read commit (version "
                f"{v}): its deletes are not expressible as a file delta; "
                "compact() folds them, then re-read the full snapshot"
                + (
                    " (or commit MoR merges with change_feed=True to stage "
                    "a foldable change set)"
                    if cdf
                    else ""
                )
            )
        else:
            raise ValueError(
                f"incremental read across a replace commit (version {v}); "
                "re-read the full snapshot instead"
            )
    return out


class _FilePartition(InputPartition):
    def __init__(self, path: str, kind: str = "ins", version: int = 0):
        self.path = path
        # "ins": appended data file (rows surface as _change_type=insert
        # under readChangeFeed); "chg": staged change file (rows already
        # carry their _change_type)
        self.kind = kind
        self.version = version  # commit version (readChangeFeed column)


class CrestTableStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict, schema: StructType | None = None):
        self.log = _log_path(
            options["warehouse"], options.get("namespace", "default"), options["table"]
        )
        self.starting_version = options.get("startingversion")
        self.cdf = str(options.get("readchangefeed", "")).lower() == "true"
        # declared output column order: the Arrow bridge maps batches to
        # the schema BY POSITION, and files from different commits can
        # disagree on order (a merge's anti-join rotates the key column
        # to the front) — every batch is therefore re-selected by NAME
        self.names = [f.name for f in schema.fields] if schema else None

    def initialOffset(self) -> dict:
        # default: start at the current version — a new stream consumes
        # appends from now on (the split Kafka sources make with
        # startingOffsets=latest; use a batch read for the snapshot).
        # option("startingVersion", N) instead begins the FIRST batch at
        # commit N+1, so consumers with their own watermark (e.g. an
        # incrementally-maintained view) catch up with no gap between a
        # batch backfill and the stream start. Checkpointed restarts
        # ignore it — the engine replans from its own offsets.
        if self.starting_version is not None:
            return {"version": int(self.starting_version)}
        vs = _versions(self.log)
        return {"version": vs[-1] if vs else 0}

    def latestOffset(self) -> dict:
        vs = _versions(self.log)
        return {"version": vs[-1] if vs else 0}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        return [
            _FilePartition(p, k, v)
            for p, k, v in plan_changes(
                self.log, start["version"], end["version"], self.cdf
            )
        ] or [_FilePartition("")]

    def read(self, partition: _FilePartition) -> Iterator:  # executor-side
        if not partition.path or not os.path.exists(partition.path):
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        is_chg = getattr(partition, "kind", "ins") == "chg"
        data_names = None
        if self.names is not None:
            data_names = [
                n
                for n in self.names
                if n not in ("_change_type", "_commit_version")
            ]
            if is_chg:
                data_names.append("_change_type")
        for batch in pq.ParquetFile(partition.path).iter_batches():
            if data_names is not None:
                missing = [n for n in data_names if n not in batch.schema.names]
                if missing:
                    raise ValueError(
                        f"{partition.path} lacks columns {missing}; restart "
                        "the stream to pick up the evolved schema"
                    )
                if batch.schema.names != data_names:
                    batch = batch.select(data_names)
            # Spark writes timestamps as INT96 by default; pyarrow decodes
            # INT96 to timestamp[ns], which the Python data source Arrow
            # bridge rejects — cast nanos to the micros Spark expects
            fields = [
                pa.field(f.name, pa.timestamp("us", f.type.tz))
                if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
                else f
                for f in batch.schema
            ]
            target = pa.schema(fields)
            if target != batch.schema:
                batch = batch.cast(target)
            if self.cdf:
                cols = list(batch.columns)
                sch = batch.schema
                if not is_chg:
                    # appended rows surface as inserts; change files
                    # already carry their _change_type
                    cols.append(
                        pa.array(["insert"] * batch.num_rows, pa.string())
                    )
                    sch = sch.append(pa.field("_change_type", pa.string()))
                ver = getattr(partition, "version", 0)
                cols.append(
                    pa.array([ver] * batch.num_rows, pa.int64())
                )
                sch = sch.append(pa.field("_commit_version", pa.int64()))
                batch = pa.RecordBatch.from_arrays(cols, schema=sch)
            yield batch

    def commit(self, end: dict) -> None:
        pass  # offsets live in the engine checkpoint; nothing to clean


class CrestTableDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "crest_table"

    def schema(self) -> StructType:
        log = _log_path(
            self.options["warehouse"],
            self.options.get("namespace", "default"),
            self.options["table"],
        )
        vs = _versions(log)
        if not vs:
            raise FileNotFoundError(f"no commit log at {log}")
        # every commit carries the full (possibly evolved) schema
        schema = StructType.fromJson(json.loads(_commit(log, vs[-1])["schema"]))
        if str(self.options.get("readchangefeed", "")).lower() == "true":
            from pyspark.sql.types import LongType, StringType, StructField

            schema = StructType(
                schema.fields
                + [
                    StructField("_change_type", StringType()),
                    StructField("_commit_version", LongType()),
                ]
            )
        return schema

    def streamReader(self, schema: StructType) -> CrestTableStreamReader:
        return CrestTableStreamReader(self.options, schema)


def register_table_stream(spark) -> None:
    """Register the ``crest_table`` streaming format on this session.

    Pickle-by-value is REQUIRED: the class is unpickled in dedicated
    Python workers that can't import this package (no sys.path / pyFiles
    propagation there)."""
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    spark.dataSource.register(CrestTableDataSource)
