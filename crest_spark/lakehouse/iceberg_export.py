"""Export commit-log tables as **Iceberg v2 table metadata**.

The reference's commit target is an Iceberg REST catalog
(``/root/reference/pkg/ingestor/iceberg_committer.go:122-147``); this
environment ships no Iceberg runtime (no Spark runtime jar, no Avro
library), so the lakehouse keeps its own commit log as the source of
truth. This module closes the format gap from the metadata side: it
materializes a spec-shaped ``metadata/`` directory for any
``LakehouseTable`` — real Avro manifests + manifest lists (via the
stdlib writer in ``avro_io.py``) and a ``v<N>.metadata.json`` per the
public Iceberg v2 table spec — so an external Iceberg reader pointed at
the table directory sees: parquet data files (already Iceberg-legal),
per-snapshot manifest lists, per-commit manifests with field-id'd
column bounds, schema/partition-spec/sort-order JSON, snapshot lineage
with sequence numbers, and a ``version-hint.text``.

Layout produced under ``<table>/metadata/``:

    v<head>.metadata.json           table metadata (format-version 2)
    snap-<v>-manifest-list.avro     one per exported snapshot
    manifest-<v>.avro               data files commit v added, all live
    manifest-<v>-<sha10>.avro       the still-live subset of them, after
                                    a replace dropped some (sha10 hashes
                                    the subset's paths)
    manifest-del-<v>-<sha10>.avro   equality deletes of the merge-on-read
                                    delta committed at v (sha10 hashes
                                    its key-file paths)
    manifest-posdel-<v>.avro        position deletes of head v's pending
                                    deltas that have no equality form
    posdel-<v>-NNNNN.parquet        those position-delete files
    version-hint.text               current metadata version

Mapping from the commit log, which the export replays ONCE through
the table's own fold step (``table._fold_record``), so every snapshot
shows exactly the state ``LakehouseTable`` reads at that version:
  - commit version  -> snapshot-id AND sequence-number (both monotone)
  - a data file's sequence number is the table's ``file_seq`` for it,
    so a file restored by rollback or folded into an expiry boundary
    keeps its ORIGINAL sequence number (and its original manifest)
    and pending merge-on-read deletes keep applying to exactly the
    files the engine applies them to
  - append commit   -> new manifest with its added files (status=ADDED)
  - replace commit (overwrite/merge/compact) -> carried-over files keep
    their original manifest; genuinely new files get a new manifest;
    dropped manifests simply leave the manifest list (Iceberg semantics)
  - a manifest whose sequence number predates the oldest retained
    snapshot (expiry) takes that snapshot's schema and field ids
  - parquet footer stats (as folded) -> data_file lower/upper bounds in
    Iceberg single-value binary serialization, keyed by field-id

Everything here follows the public Apache Iceberg table spec
(https://iceberg.apache.org/spec/); no Iceberg code is copied.
"""

from __future__ import annotations

import json
import os
import struct
import uuid
from collections.abc import Callable

from . import avro_io
from .table import (
    LakehouseTable,
    Snapshot,
    _input_path,
    _row_cond,
    _tag_by_file,
)

_NS_UUID = uuid.UUID("a53437a2-97c5-4a62-a56b-8f6e3f9a3b11")  # arbitrary, fixed


# ------------------------------------------------------------- schema mapping
def _spark_to_iceberg_type(
    t: dict, next_id: list[int], path: str = "", ids: dict | None = None
):
    """Spark StructType JSON fragment -> Iceberg type JSON. Without
    ``ids``, ids are assigned depth-first in field order (fresh-table
    assignment). With ``ids`` (dotted-path -> id, the fold's stable
    nested assignment), each position reuses its table-global id and
    only unknown paths fall back to the sequential counter."""
    if isinstance(t, str):
        prim = {
            "long": "long",
            "integer": "int",
            "short": "int",
            "byte": "int",
            "string": "string",
            "double": "double",
            "float": "float",
            "boolean": "boolean",
            "binary": "binary",
            "date": "date",
            "timestamp": "timestamptz",
            "timestamp_ntz": "timestamp",
        }
        if t in prim:
            return prim[t]
        if t.startswith("decimal"):
            return t  # decimal(p,s) spells identically in both specs
        raise NotImplementedError(f"no Iceberg mapping for Spark type {t!r}")

    def alloc(p: str) -> int:
        # stable path-keyed id when the fold tracked one (r10: nested
        # ids are table-global, allocated once and reused across
        # schemas — ADVICE r9 #5); sequential fallback otherwise
        if ids is not None and p in ids:
            return int(ids[p])
        v = next_id[0]
        next_id[0] += 1
        return v

    kind = t["type"]
    if kind == "struct":
        fields = []
        for f in t["fields"]:
            p = f"{path}.{f['name']}" if path else f["name"]
            fields.append(
                {
                    "id": alloc(p),
                    "name": f["name"],
                    "required": not f.get("nullable", True),
                    "type": _spark_to_iceberg_type(
                        f["type"], next_id, path=p, ids=ids
                    ),
                }
            )
        return {"type": "struct", "fields": fields}
    if kind == "array":
        ep = f"{path}.element" if path else "element"
        return {
            "type": "list",
            "element-id": alloc(ep),
            "element": _spark_to_iceberg_type(
                t["elementType"], next_id, path=ep, ids=ids
            ),
            "element-required": not t.get("containsNull", True),
        }
    if kind == "map":
        kp = f"{path}.key" if path else "key"
        vp = f"{path}.value" if path else "value"
        kid = alloc(kp)
        vid = alloc(vp)
        return {
            "type": "map",
            "key-id": kid,
            "key": _spark_to_iceberg_type(t["keyType"], next_id, path=kp, ids=ids),
            "value-id": vid,
            "value": _spark_to_iceberg_type(
                t["valueType"], next_id, path=vp, ids=ids
            ),
            "value-required": not t.get("valueContainsNull", True),
        }
    raise NotImplementedError(f"no Iceberg mapping for Spark type {kind!r}")


def iceberg_schema(
    schema_json: str, schema_id: int, top_ids: dict[str, int] | None = None
) -> dict:
    """Spark StructType JSON string -> Iceberg schema JSON with field ids.

    ``top_ids`` pins the field ids to the table's stable assignment
    (``LakehouseTable.field_ids`` + dotted-path nested ids in the same
    map): renames keep their id, dropped ids never come back, re-adds
    get fresh ids — what lets an external engine track columns across
    in-place evolution. Nested positions (struct members, list
    elements, map keys/values) resolve by dotted path from the SAME
    fold assignment, so a nested field keeps one table-global id across
    every schema (r10; pre-r10 the export re-allocated nested ids per
    schema — ADVICE r9 #5). Without ``top_ids`` the historical
    depth-first 1..n assignment is emitted unchanged."""
    t = json.loads(schema_json)
    if top_ids is None:
        next_id = [1]
        struct_t = _spark_to_iceberg_type(t, next_id)
        return {
            "type": "struct",
            "schema-id": schema_id,
            "fields": struct_t["fields"],
        }
    nested_ids = {k: v for k, v in top_ids.items() if "." in k}
    next_id = [max(list(top_ids.values()) or [0]) + 1]
    fields = []
    for f in t["fields"]:
        fields.append(
            {
                "id": int(top_ids[f["name"]]),
                "name": f["name"],
                "required": not f.get("nullable", True),
                "type": _spark_to_iceberg_type(
                    f["type"], next_id, path=f["name"], ids=nested_ids
                ),
            }
        )
    return {"type": "struct", "schema-id": schema_id, "fields": fields}


def _leaf_ids(fields: list[dict], prefix: str = "") -> dict[str, tuple[int, str]]:
    """(dotted path -> (field id, primitive type)) for every bound-
    carrying position of an Iceberg schema's ``fields``: top-level
    primitives AND struct-nested leaves (commit stats key by the same
    dotted paths, so nested bounds export like flat ones). List/map
    interiors carry repeated values with no scalar bounds."""
    out: dict[str, tuple[int, str]] = {}
    for f in fields:
        p = f"{prefix}.{f['name']}" if prefix else f["name"]
        if isinstance(f["type"], str):
            out[p] = (f["id"], f["type"])
        elif f["type"].get("type") == "struct":
            out.update(_leaf_ids(f["type"]["fields"], p))
    return out


def _max_field_id(t) -> int:
    """The highest field id inside the Iceberg type ``t``."""
    if isinstance(t, str):
        return 0
    if t["type"] == "struct":
        return max(
            [0] + [max(f["id"], _max_field_id(f["type"])) for f in t["fields"]]
        )
    if t["type"] == "list":
        return max(t["element-id"], _max_field_id(t["element"]))
    if t["type"] == "map":
        return max(
            t["key-id"],
            t["value-id"],
            _max_field_id(t["key"]),
            _max_field_id(t["value"]),
        )
    return 0


def _alias_spans(
    name: str, events: list[dict]
) -> list[tuple[str, float]]:
    """``[(alias, held_until_event_index)]`` newest first: each physical
    (possibly dotted) path the field has had, paired with the index of
    the event that took the name away (the current name is held until
    +inf). PREFIX-aware like the read-side vintage resolver: an event on
    an ancestor rewinds/vacates the whole subtree. The hold-end orders
    competing claims on a reused name — see ``_name_mapping``."""
    out: list[tuple[str, float]] = [(name, float("inf"))]
    n = name
    for i in range(len(events) - 1, -1, -1):
        e = events[i]
        if e["op"] == "rename":
            to, frm = e["to"], e["from"]
            if n == to or n.startswith(to + "."):
                n = frm + n[len(to):]
                out.append((n, float(i)))
            elif n == frm or n.startswith(frm + "."):
                break
        elif e["op"] == "drop":
            d = e["name"]
            if n == d or n.startswith(d + "."):
                break
    return out


def _name_mapping(live_ids: dict[str, int], events: list[dict]) -> list[dict]:
    """The ``schema.name-mapping.default`` entries for the live fields,
    HIERARCHICAL per the spec (nested entries ride their parent's
    ``fields`` list, so names are scoped per level), with duplicate
    names resolved: a physical name may have been borne by several
    fields over the table's life (rename a->b then re-add a; rename
    chains through a reused name), but the spec requires mapping names
    to be unambiguous within a scope — so each name goes to its LATEST
    bearer (current names always win over another field's alias;
    between two aliases the later-relinquished one wins). An ancestor
    rename changes no leaf name, so a member's entry lists only the
    names IT has had at its level. Files older than the winner's tenure
    resolve via the engine-specific event log, which is sequence-scoped
    and never ambiguous (ADVICE r9 #3)."""
    spans = {path: _alias_spans(path, events) for path in live_ids}

    def _leaf(p: str) -> str:
        return p.rsplit(".", 1)[-1]

    def _scope(p: str) -> str:
        return p.rsplit(".", 1)[0] if "." in p else ""

    # latest bearer of each leaf name, per (current) scope
    best: dict[tuple[str, str], tuple[float, str]] = {}
    for path, sp in spans.items():
        sc = _scope(path)
        for alias, until in sp:
            key = (sc, _leaf(alias))
            if key not in best or until > best[key][0]:
                best[key] = (until, path)

    def _entry(path: str) -> dict:
        sc = _scope(path)
        names: list[str] = []
        for alias, _ in spans[path]:
            ln = _leaf(alias)
            if ln not in names and best[(sc, ln)][1] == path:
                names.append(ln)
        e = {"field-id": int(live_ids[path]), "names": names}
        children = sorted(
            (p for p in live_ids if _scope(p) == path),
            key=lambda p: live_ids[p],
        )
        if children:
            e["fields"] = [_entry(c) for c in children]
        return e

    return [_entry(p) for p in live_ids if "." not in p]


def _single_value_bytes(iceberg_type, value) -> bytes | None:
    """Iceberg single-value binary serialization for bound maps."""
    try:
        if iceberg_type == "int":
            return struct.pack("<i", int(value))
        if iceberg_type == "long":
            return struct.pack("<q", int(value))
        if iceberg_type == "float":
            return struct.pack("<f", float(value))
        if iceberg_type == "double":
            return struct.pack("<d", float(value))
        if iceberg_type == "string":
            return str(value).encode("utf-8")
        if iceberg_type == "boolean":
            return b"\x01" if value else b"\x00"
    except (struct.error, ValueError, OverflowError):
        return None
    return None  # other types: omit the bound (always safe)


# ----------------------------------------------------------- manifest schemas
def _id_map_schema(name: str, key_id: int, value_id: int, value_type) -> dict:
    """Iceberg's array-of-kv representation for int-keyed logical maps
    (Avro maps require string keys, so the spec mandates this shape)."""
    return {
        "type": "array",
        "logicalType": "map",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int", "field-id": key_id},
                {"name": "value", "type": value_type, "field-id": value_id},
            ],
        },
    }


def _opt(t) -> list:
    return ["null", t]


_DATA_FILE_SCHEMA = {
    "type": "record",
    "name": "r2",
    "fields": [
        {"name": "content", "type": "int", "field-id": 134},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {
            "name": "partition",
            "type": {"type": "record", "name": "r102", "fields": []},
            "field-id": 102,
        },
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        {
            "name": "value_counts",
            "type": _opt(_id_map_schema("k119_v120", 119, 120, "long")),
            "field-id": 109,
            "default": None,
        },
        {
            "name": "null_value_counts",
            "type": _opt(_id_map_schema("k121_v122", 121, 122, "long")),
            "field-id": 110,
            "default": None,
        },
        {
            "name": "lower_bounds",
            "type": _opt(_id_map_schema("k126_v127", 126, 127, "bytes")),
            "field-id": 125,
            "default": None,
        },
        {
            "name": "upper_bounds",
            "type": _opt(_id_map_schema("k129_v130", 129, 130, "bytes")),
            "field-id": 128,
            "default": None,
        },
        # spec field for equality-delete files (content=2): the field ids
        # of the columns the delete matches on; null for data files
        {
            "name": "equality_ids",
            "type": _opt(
                {"type": "array", "items": "int", "element-id": 136}
            ),
            "field-id": 135,
            "default": None,
        },
    ],
}

MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {
            "name": "snapshot_id",
            "type": _opt("long"),
            "field-id": 1,
            "default": None,
        },
        {
            "name": "sequence_number",
            "type": _opt("long"),
            "field-id": 3,
            "default": None,
        },
        {
            "name": "file_sequence_number",
            "type": _opt("long"),
            "field-id": 4,
            "default": None,
        },
        {"name": "data_file", "type": _DATA_FILE_SCHEMA, "field-id": 2},
    ],
}

MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        {
            "name": "partitions",
            "type": _opt(
                {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "r508",
                        "fields": [
                            {
                                "name": "contains_null",
                                "type": "boolean",
                                "field-id": 509,
                            },
                            {
                                "name": "contains_nan",
                                "type": _opt("boolean"),
                                "field-id": 518,
                                "default": None,
                            },
                            {
                                "name": "lower_bound",
                                "type": _opt("bytes"),
                                "field-id": 510,
                                "default": None,
                            },
                            {
                                "name": "upper_bound",
                                "type": _opt("bytes"),
                                "field-id": 511,
                                "default": None,
                            },
                        ],
                    },
                }
            ),
            "field-id": 507,
            "default": None,
        },
    ],
}


# ------------------------------------------------------------------- exporter
def _replay_log(
    table: LakehouseTable,
) -> tuple[list[Snapshot], dict[int, dict], dict[str, dict], dict]:
    """Walk the commit log ONCE, folding every record through the
    table's own fold step (``_fold_record`` from ``_empty_state()`` —
    the same code ``_state`` runs, so the export can never give a
    record another meaning), and keep per version what the export
    needs:

      - ``live``: ``{file: data sequence number}`` — the fold's
        ``file_seq``, so a file restored by rollback or folded into an
        expiry boundary keeps its original sequence number;
      - ``added``: the live files whose sequence number is this version;
      - ``deletes``: the pending merge-on-read delete entries;
      - ``schema`` / ``field_ids`` / ``has_events``: the folded schema,
        its stable ids and whether a rename/drop event is on record
        (staged/branch commits don't advance them — their files enter
        at publish, whose commit carries the evolved schema);
      - ``num_rows``: the live row count (the summary's total-records).

    Returns (snapshots, {version: view}, per-file stats as the fold
    first saw them, head state)."""
    from .table import _empty_state, _fold_record

    state = _empty_state()
    snaps: list[Snapshot] = []
    views: dict[int, dict] = {}
    file_stats: dict[str, dict] = {}
    for v in table.versions():
        with open(table._version_file(v)) as fh:
            d = json.load(fh)
        _fold_record(state, v, d)
        snaps.append(Snapshot.from_record(v, d))
        seq = state["file_seq"]
        live = {f: int(seq.get(f, v)) for f in state["files"]}
        for f in live:
            if f not in file_stats:
                file_stats[f] = state["stats"].get(f) or {}
        views[v] = {
            "live": live,
            "added": [f for f, sv in live.items() if sv == v],
            "deletes": list(state["deletes"]),
            "schema": state["schema"] or d["schema"],
            "field_ids": dict(state["field_ids"]),
            "has_events": bool(state["schema_events"]),
            "num_rows": state["num_rows"],
        }
    return snaps, views, file_stats, state


def _file_footer(path: str) -> tuple[int, int]:
    """(record_count, file_size_in_bytes) — metadata-only."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows, os.path.getsize(path)


def _sha10(paths) -> str:
    """The file-subset hash in filtered and delete manifest names."""
    import hashlib

    return hashlib.sha1("\n".join(paths).encode("utf-8")).hexdigest()[:10]


_POS_DELETE_PATH_ID = 2147483546  # spec-reserved field ids for
_POS_DELETE_POS_ID = 2147483545  # position-delete file columns


def _materialize_position_deletes(
    table: LakehouseTable, spark, state: dict, meta_dir: str
) -> list[str]:
    """Fold EVERY delete entry pending at the head snapshot into Iceberg
    v2 POSITION-delete files (sorted ``file_path, pos`` parquet with the
    spec's reserved field ids), computed against the frozen snapshot by
    the engine's own scan resolution: read the live files with their row
    positions, apply ``_apply_pending_deletes``, and the anti-join of
    (path, pos) gives exactly the dead rows — including the losers of
    sequence-aware winner resolution and predicate-delete matches, the
    two delta shapes with no spec equality-delete equivalent (VERDICT r6
    what's-missing #1). Cost is one scan of the affected table +
    O(dead rows) bytes written — strictly cheaper than the compact()
    round-trip it replaces, and the commit log itself is untouched.

    ``state`` is the export's own fold at the head snapshot. Returns
    the written file paths (deterministically named under
    ``meta_dir``; empty when nothing pending / nothing dead)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    head_version = state["version"]
    files = list(state["files"])
    if not files or not (state.get("deletes") or []):
        return []
    schema = StructType.fromJson(json.loads(state["schema"]))
    base = (
        spark.read.schema(schema)
        .option("mergeSchema", "false")
        .parquet(*files)
        .withColumn("__pd_path", _input_path())
        .withColumn("__pd_pos", F.col("_metadata.row_index"))
    )
    surviving = table._apply_pending_deletes(spark, base, files, state)
    dead = (
        base.select("__pd_path", "__pd_pos")
        .join(
            surviving.select("__pd_path", "__pd_pos"),
            ["__pd_path", "__pd_pos"],
            "left_anti",
        )
        .select(
            F.regexp_replace(F.col("__pd_path"), "^file://", "").alias(
                "file_path"
            ),
            F.col("__pd_pos").cast("long").alias("pos"),
        )
        .withMetadata("file_path", {"parquet.field.id": _POS_DELETE_PATH_ID})
        .withMetadata("pos", {"parquet.field.id": _POS_DELETE_POS_ID})
    )
    tmp_dir = os.path.join(meta_dir, f".posdel-{head_version}.tmp")
    (
        dead.repartitionByRange(4, "file_path", "pos")
        .sortWithinPartitions("file_path", "pos")
        .write.mode("overwrite")
        .parquet(tmp_dir)
    )
    out: list[str] = []
    parts = sorted(
        f for f in os.listdir(tmp_dir) if f.endswith(".parquet")
    )
    idx = 0
    for part in parts:
        src = os.path.join(tmp_dir, part)
        if _file_footer(src)[0] == 0:
            continue  # empty range partition
        dst = os.path.join(
            meta_dir, f"posdel-{head_version}-{idx:05d}.parquet"
        )
        os.replace(src, dst)
        out.append(dst)
        idx += 1
    import shutil

    shutil.rmtree(tmp_dir, ignore_errors=True)
    return out


def export_iceberg_metadata(
    table: LakehouseTable,
    *,
    max_snapshots: int | None = None,
    spark=None,
) -> str:
    """Materialize Iceberg v2 metadata for ``table``; returns the
    metadata directory. Re-export is idempotent (same content -> same
    bytes). ``max_snapshots`` keeps only the newest N snapshots in the
    metadata (manifest lists are per-snapshot; bound the export for
    tables with very long histories). ``spark`` (or the active session)
    is only needed when the head snapshot has pending merge-on-read
    deltas Iceberg's equality deletes cannot express — those are
    materialized into position-delete files at export time."""
    snaps, views, file_stats, head_state = _replay_log(table)
    if not snaps:
        raise FileNotFoundError(
            f"table {table.namespace}.{table.name} does not exist"
        )
    # merge-on-read equality deletes export as Iceberg v2 delete
    # manifests (content=1) referencing equality-delete files (content=2,
    # equality_ids): an entry staged at commit v gets sequence number
    # ``entry.seq + 1 == v``, and the spec's "applies to data sequence
    # strictly below" rule then scopes it to exactly the files this
    # engine scopes it to (file_seq <= entry.seq, re-inserts survive).
    # Two delta shapes have NO spec EQUALITY-delete equivalent:
    # predicate deletes (delete(mode='mor')) and sequence-aware entries
    # (winner-by-sequence-value is not an unconditional equality
    # delete). At the CURRENT snapshot those are MATERIALIZED into
    # position-delete files computed against the frozen snapshot (the
    # scan logic already resolves the contested rows; the export just
    # records the losers' positions) — so a sequence-conditioned CDC
    # table exports without a compaction round-trip. Historical
    # unrepresentable snapshots are simply omitted from the export
    # window, like max_snapshots bounding.

    def _unrepresentable(s: Snapshot) -> str | None:
        for e in views[s.version]["deletes"]:
            if e.get("pred") is not None:
                return "a merge-on-read PREDICATE delete"
            if e.get("seqcol"):
                return "a sequence-aware merge-on-read delta"
        return None

    head_bad = _unrepresentable(snaps[-1])
    if head_bad and spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise ValueError(
                f"table {table.namespace}.{table.name} has {head_bad} "
                "pending at its current snapshot; materializing it as "
                "position deletes needs a SparkSession (pass spark=...)"
                " — or compact() to fold it before exporting"
            )
    meta_dir = os.path.join(table.path, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    posdel_files: list[str] = []
    if head_bad:
        posdel_files = _materialize_position_deletes(
            table, spark, head_state, meta_dir
        )

    # schema registry: distinct schemas in commit order -> schema-ids.
    # With in-place evolution (rename/drop) the registry keys on
    # (schema json, stable field-id assignment): the same column layout
    # before and after a drop/re-add is TWO schemas to Iceberg because
    # the re-added column carries a fresh id.
    # An add-only widening (merge_schema append, no rename/drop) IS
    # evolution to an external reader too: the data files carry no
    # embedded field ids, so files written before the add can only be
    # resolved through the name mapping — any change of the folded
    # schema across the log therefore emits it.
    has_evolution = any(w["has_events"] for w in views.values()) or (
        len({w["schema"] for w in views.values()}) > 1
    )
    _evo_events = list(head_state["schema_events"]) if has_evolution else []

    # The registry keys on the FOLDED schema + fold ids (never a
    # snapshot's raw recorded json): a staged widening's own json names
    # columns whose ids are minted at publish, and a stale-append race's
    # raw json would resurrect a renamed-away column — both crash or
    # diverge from LakehouseTable.field_ids() (ADVICE r9 #2/#4). The
    # fold has already resolved each version to the schema that was
    # actually LIVE there.
    schema_ids: dict[str, int] = {}
    iceberg_schemas: list[dict] = []
    sid_of: dict[int, int] = {}  # version -> schema id
    for s in snaps:
        w = views[s.version]
        k = w["schema"]
        if has_evolution:
            k += "|" + json.dumps(sorted(w["field_ids"].items()))
        if k not in schema_ids:
            schema_ids[k] = len(iceberg_schemas)
            iceberg_schemas.append(
                iceberg_schema(
                    w["schema"],
                    schema_ids[k],
                    top_ids=w["field_ids"] if has_evolution else None,
                )
            )
        sid_of[s.version] = schema_ids[k]

    def _sid(version: int) -> int:
        # a sequence number older than the oldest retained snapshot
        # (after expiry or rollback) takes that snapshot's schema
        return sid_of.get(version, sid_of[snaps[0].version])

    leaf_ids = [_leaf_ids(isch["fields"]) for isch in iceberg_schemas]
    snaps_by_v = {s.version: s for s in snaps}
    exported = [
        s
        for s in (snaps if max_snapshots is None else snaps[-max_snapshots:])
        # the head is always exported: its unrepresentable deltas (if
        # any) were materialized into position deletes above
        if s is snaps[-1] or _unrepresentable(s) is None
    ]

    # ---- clustering metadata (VERDICT r6 next-round #6): the most
    # recent cluster_by declaration is the table's sort layout — emitted
    # as an Iceberg sort order so external planners see the clustering,
    # not just per-file column bounds. Sort orders are declarative table
    # metadata (like Iceberg's own): files written before the
    # declaration simply aren't sorted by it.
    cluster_cols: list[str] = []
    for s in reversed(snaps):
        cb = s.extra.get("cluster_by")
        if cb:
            cluster_cols = list(cb)
            break
    head_field_ids = leaf_ids[sid_of[snaps[-1].version]]
    sort_fields = [
        {
            "transform": "identity",
            "source-id": head_field_ids[c][0],
            "direction": "asc",
            "null-order": "nulls-first",
        }
        for c in cluster_cols
        if c in head_field_ids
    ]
    # Partition specs derived from range-clustered files, applied PER
    # MANIFEST only when every file's partition tuple is provable from
    # its min/max stats. Spec 1 leads with IDENTITY on the first
    # cluster column (single-valued files — the low-cardinality case);
    # spec 2 is its truncate[w] fallback for a high-cardinality leading
    # key (truncate is MONOTONIC — ints floor(v/w)*w, strings w-prefix
    # — so a file spanning [min, max] still has one provable truncated
    # value whenever the endpoints agree; bucket[n] has no such
    # derivation, murmur3 is not monotonic). Multi-column cluster_by
    # (VERDICT r8 #4): every SUBSEQUENT cluster column derivable the
    # same way joins BOTH specs — identity when globally single-valued
    # per file, its own truncate[w] otherwise, omitted (bounds-only
    # pruning) when neither is provable.
    _PART_AVRO = {"int": "int", "long": "long", "string": "string"}
    part_col = cluster_cols[0] if cluster_cols else None

    type_ok = {
        c: c in head_field_ids and head_field_ids[c][1] in _PART_AVRO
        for c in cluster_cols
    }
    stats_ok = dict(type_ok)  # falsified per column on missing/null stats
    col_ranges: dict[str, list[tuple]] = {c: [] for c in cluster_cols}
    if part_col is not None and type_ok.get(part_col):
        for s in snaps:
            if (s.extra.get("cluster_by") or [None])[0] != part_col:
                continue
            for f in views[s.version]["added"]:
                fstats = file_stats[f]
                fnulls = fstats.get("__nulls__") or {}
                for c in cluster_cols:
                    if not stats_ok[c]:
                        continue
                    mnmx = fstats.get(c)
                    if not mnmx or fnulls.get(c, 0) != 0:
                        stats_ok[c] = False
                        continue
                    col_ranges[c].append((mnmx[0], mnmx[1]))

    def _derive_width(c: str) -> int | None:
        itype = head_field_ids[c][1]
        ranged = col_ranges[c]
        if itype in ("int", "long"):
            for w in (10**p for p in range(1, 16)):
                if all(lo // w == hi // w for lo, hi in ranged):
                    return w
            return None
        cpl = min(
            len(os.path.commonprefix([lo, hi])) for lo, hi in ranged
        )
        return cpl if cpl >= 1 else None

    col_ident: dict[str, bool] = {}
    col_width: dict[str, int | None] = {}
    for c in cluster_cols:
        ok = stats_ok.get(c) and col_ranges[c]
        col_ident[c] = bool(ok) and all(lo == hi for lo, hi in col_ranges[c])
        col_width[c] = (
            _derive_width(c) if ok and not col_ident[c] else None
        )

    # (col, transform, width) plans for the columns after the leading
    # one — shared by both specs
    extra_fields: list[tuple[str, str, int | None]] = []
    for c in cluster_cols[1:]:
        if col_ident[c]:
            extra_fields.append((c, "identity", None))
        elif col_width[c] is not None:
            extra_fields.append((c, "truncate", col_width[c]))

    # ---- the spec table: spec id -> (spec JSON, column plan), spec 0
    # (unpartitioned) included; a spec's plan lines up with its fields
    plans: list[tuple[int, list[tuple[str, str, int | None]]]] = [(0, [])]
    if part_col is not None and type_ok.get(part_col):
        plans.append((1, [(part_col, "identity", None)] + extra_fields))
        if col_width[part_col] is not None:
            plans.append(
                (2, [(part_col, "truncate", col_width[part_col])] + extra_fields)
            )
    specs: dict[int, tuple[dict, list[tuple[str, str, int | None]]]] = {}
    next_fid = 1000  # v2: partition field ids are unique ACROSS specs
    for spec_id, plan in plans:
        fields = [
            {
                "name": c if tr == "identity" else f"{c}_trunc",
                "transform": "identity" if tr == "identity" else f"truncate[{w}]",
                "source-id": head_field_ids[c][0],
                "field-id": next_fid + i,
            }
            for i, (c, tr, w) in enumerate(plan)
        ]
        next_fid += len(plan)
        specs[spec_id] = ({"spec-id": spec_id, "fields": fields}, plan)

    def _truncate(itype: str, w: int, v):
        # Iceberg truncate: ints floor to the width multiple (Python //
        # is floored, matching the spec's v - (v % W)); strings take the
        # w-codepoint prefix
        if itype in ("int", "long"):
            return (v // w) * w
        return v[:w]

    def _entry_schema(spec_id: int) -> dict:
        """MANIFEST_ENTRY_SCHEMA with the partition record typed for
        the given spec (the avro schema of a manifest depends on its
        partition spec, per the Iceberg spec)."""
        entry = json.loads(json.dumps(MANIFEST_ENTRY_SCHEMA))
        data_file = next(
            f for f in entry["fields"] if f["name"] == "data_file"
        )
        part = next(
            f
            for f in data_file["type"]["fields"]
            if f["name"] == "partition"
        )
        spec, plan = specs[spec_id]
        part["type"]["fields"] = [
            {
                "name": sf["name"],
                "type": _PART_AVRO[head_field_ids[c][1]],
                "field-id": sf["field-id"],
            }
            for sf, (c, _tr, _w) in zip(spec["fields"], plan)
        ]
        return entry

    def _partition_tuples(files, plan) -> dict[str, dict] | None:
        """Every file's partition tuple under ``plan``, or None unless
        each file has a provable value for EVERY field — identity
        needs min == max, truncate needs agreeing truncated endpoints,
        both need null-free stats."""
        vals: dict[str, dict] = {}
        for f in files:
            fstats = file_stats.get(f) or {}
            fnulls = fstats.get("__nulls__") or {}
            tup: dict = {}
            for c, tr, w in plan:
                mnmx = fstats.get(c)
                if not mnmx or fnulls.get(c, 0) != 0:
                    return None
                if tr == "identity":
                    if mnmx[0] != mnmx[1]:
                        return None
                    tup[c] = mnmx[0]
                else:
                    it = head_field_ids[c][1]
                    ta = _truncate(it, w, mnmx[0])
                    if ta != _truncate(it, w, mnmx[1]):
                        return None
                    tup[f"{c}_trunc"] = ta
            vals[f] = tup
        return vals

    # ---- the one manifest writer. Its cache is keyed by the manifest
    # path, which already encodes kind, version and (for a filtered or
    # delete manifest) the file-subset hash, so every manifest is
    # written once and reused by each later snapshot that lists it.
    manifests: dict[str, dict] = {}  # path -> its manifest-list entry

    def _write_manifest(name: str, ver: int, files, content: int,
                        layout=lambda: (0, None)) -> dict:
        """Write the manifest ``name`` of ``files`` (data file content
        0 data, 1 position deletes, 2 equality deletes) added at
        version ``ver``, which is their snapshot id and sequence number.
        ``layout()`` -> (spec id, per-file hook) runs only when the
        manifest is not written yet; the hook maps (file, record count)
        to the ``data_file`` fields beyond the common ones (partition
        tuple and column stats for data, ``equality_ids`` for equality
        deletes; absent nullable fields take their schema default,
        null). Returns the manifest-list entry as the snapshot ``ver``
        lists it."""
        path = os.path.join(meta_dir, name)
        if path in manifests:
            return manifests[path]
        spec_id, per_file = layout()
        sid = _sid(ver)
        records = []
        rows = 0
        for f in files:
            nrows, fsize = _file_footer(f)
            rows += nrows
            data_file = {
                "content": content,
                "file_path": os.path.abspath(f),
                "file_format": "PARQUET",
                "partition": {},
                "record_count": nrows,
                "file_size_in_bytes": fsize,
            }
            if per_file is not None:
                data_file.update(per_file(f, nrows))
            records.append(
                {
                    "status": 1,  # ADDED
                    "snapshot_id": ver,
                    "sequence_number": ver,
                    "file_sequence_number": ver,
                    "data_file": data_file,
                }
            )
        spec, plan = specs[spec_id]
        length = avro_io.write_container(
            path,
            _entry_schema(spec_id),
            records,
            metadata={
                "schema": json.dumps(iceberg_schemas[sid]),
                "schema-id": str(sid),
                "partition-spec": json.dumps(spec["fields"]),
                "partition-spec-id": str(spec_id),
                "format-version": "2",
                "content": "data" if content == 0 else "deletes",
            },
        )
        # field summaries, one per spec field in order (external
        # planners prune manifests on them)
        summaries = []
        for sf, (c, _tr, _w) in zip(spec["fields"], plan):
            itype = head_field_ids[c][1]
            pv = [r["data_file"]["partition"][sf["name"]] for r in records]
            summaries.append(
                {
                    "contains_null": False,
                    "contains_nan": False,
                    "lower_bound": _single_value_bytes(itype, min(pv)),
                    "upper_bound": _single_value_bytes(itype, max(pv)),
                }
            )
        manifests[path] = {
            "manifest_path": path,
            "manifest_length": length,
            "partition_spec_id": spec_id,
            "content": 0 if content == 0 else 1,  # data | deletes
            "sequence_number": ver,
            "min_sequence_number": ver,
            "added_snapshot_id": ver,
            "added_files_count": len(records),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": rows,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
            "partitions": summaries,
        }
        return manifests[path]

    def _listed(entry: dict, version: int) -> dict:
        """A manifest's entry in snapshot ``version``'s manifest list:
        its files and rows count as ADDED only in the snapshot that
        wrote it, as EXISTING in every other one."""
        if entry["added_snapshot_id"] == version:
            return entry
        return {
            **entry,
            "added_files_count": 0,
            "existing_files_count": entry["added_files_count"],
            "added_rows_count": 0,
            "existing_rows_count": entry["added_rows_count"],
        }

    def _data_layout(ver: int, files) -> tuple[int, Callable]:
        """A data manifest's spec and per-file fields. Partition-spec
        eligibility is per manifest: spec 1 first, the truncate
        fallback next, else spec 0 (bounds-only pruning). Per-file
        stats always come from the fold."""
        snap = snaps_by_v.get(ver)
        spec_id, part_values = 0, {}
        if snap is not None and (
            (snap.extra.get("cluster_by") or [None])[0] == part_col
        ):
            for cand, (_spec, plan) in specs.items():
                if cand and (vals := _partition_tuples(files, plan)) is not None:
                    spec_id, part_values = cand, vals
                    break
        ids = leaf_ids[_sid(ver)]

        def per_file(f: str, nrows: int) -> dict:
            fstats = file_stats.get(f) or {}
            fnulls = fstats.get("__nulls__") or {}
            lower, upper, nulls, vcounts = [], [], [], []
            for col, (fid, itype) in ids.items():
                if col in fnulls:
                    nulls.append({"key": fid, "value": int(fnulls[col])})
                    # spec value_counts = total values incl. nulls =
                    # the file's record count for a flat column
                    vcounts.append({"key": fid, "value": nrows})
                mnmx = fstats.get(col)
                if not mnmx:
                    continue
                lo = _single_value_bytes(itype, mnmx[0])
                hi = _single_value_bytes(itype, mnmx[1])
                if lo is not None and hi is not None:
                    lower.append({"key": fid, "value": lo})
                    upper.append({"key": fid, "value": hi})
            return {
                "partition": part_values.get(f, {}),
                "value_counts": vcounts or None,
                "null_value_counts": nulls or None,
                "lower_bounds": lower or None,
                "upper_bounds": upper or None,
            }

        return spec_id, per_file

    def _data_manifest(ver: int, files: tuple[str, ...]) -> dict:
        """The manifest of the data files added at ``ver`` that are
        still live. A replace commit can drop SOME of them; the
        manifest is then rewritten filtered to the live subset (what
        Iceberg's rewrite-manifests does), named by the subset's hash
        so later snapshots sharing the subset reuse the filtered
        file too."""
        full = ver in snaps_by_v and (
            tuple(sorted(views[ver]["added"])) == files
        )
        name = f"manifest-{ver}.avro" if full else (
            f"manifest-{ver}-{_sha10(files)}.avro"
        )
        return _write_manifest(
            name, ver, files, 0, lambda: _data_layout(ver, files)
        )

    def _eq_delete_manifest(entry: dict) -> dict:
        """One delete manifest per merge-on-read delta entry, holding
        its equality-delete key files with the key columns' field ids;
        reused by every later snapshot the entry is still pending at.
        The entry commits at version ``seq + 1`` (it deletes against
        base ``seq``), and the spec applies it to data sequence numbers
        below that."""
        ver = int(entry["seq"]) + 1
        ids = leaf_ids[_sid(ver)]
        try:
            eq_ids = [ids[k][0] for k in entry["keys"]]
        except KeyError as exc:
            raise ValueError(
                f"merge-on-read delete key {exc} has no field id in the "
                f"version-{ver} schema"
            ) from exc
        return _write_manifest(
            f"manifest-del-{ver}-{_sha10(entry['paths'])}.avro",
            ver,
            entry["paths"],
            2,
            lambda: (0, lambda f, n: {"equality_ids": eq_ids}),
        )

    # ---- per-snapshot manifest lists + snapshot records
    snapshot_records = []
    snapshot_log = []
    prev_version = None
    for s in snaps:
        live = views[s.version]["live"]
        if s in exported:
            by_add: dict[int, list[str]] = {}
            for f, av in live.items():
                by_add.setdefault(av, []).append(f)
            listed = [
                _data_manifest(mv, tuple(sorted(by_add[mv])))
                for mv in sorted(by_add)
            ]
            if s is snaps[-1] and head_bad:
                # pending deltas were materialized: ONE position-delete
                # manifest stands in for every pending entry (emitting
                # the equality manifests too would be redundant).
                # Position deletes apply to data files with sequence
                # <= their own, so the head's number scopes them to
                # every live file, the set they were computed against.
                if posdel_files:
                    listed.append(
                        _write_manifest(
                            f"manifest-posdel-{s.version}.avro",
                            s.version,
                            posdel_files,
                            1,
                        )
                    )
            else:
                listed += [
                    _eq_delete_manifest(entry)
                    for entry in views[s.version]["deletes"]
                ]
            list_path = os.path.join(
                meta_dir, f"snap-{s.version}-manifest-list.avro"
            )
            avro_io.write_container(
                list_path,
                MANIFEST_FILE_SCHEMA,
                [_listed(e, s.version) for e in listed],
                metadata={
                    "snapshot-id": str(s.version),
                    "parent-snapshot-id": str(prev_version or "null"),
                    "sequence-number": str(s.version),
                    "format-version": "2",
                },
            )
            op = {
                "create": "append",
                "append": "append",
                "replace": "overwrite",
            }.get(s.operation, "overwrite")
            rec = {
                "snapshot-id": s.version,
                "sequence-number": s.version,
                "timestamp-ms": int(s.commit_ts * 1000),
                "manifest-list": list_path,
                "summary": {
                    "operation": op,
                    "total-data-files": str(len(live)),
                    "total-records": str(views[s.version]["num_rows"]),
                },
                "schema-id": sid_of[s.version],
            }
            if prev_version is not None:
                rec["parent-snapshot-id"] = prev_version
            snapshot_records.append(rec)
            snapshot_log.append(
                {
                    "timestamp-ms": int(s.commit_ts * 1000),
                    "snapshot-id": s.version,
                }
            )
        prev_version = s.version

    head = snaps[-1]
    # last-column-id = highest id assigned in ANY schema
    last_col = max(_max_field_id(isch) for isch in iceberg_schemas)
    used_specs = {e["partition_spec_id"] for e in manifests.values()} | {0}
    metadata = {
        "format-version": 2,
        "table-uuid": str(
            uuid.uuid5(_NS_UUID, f"{table.namespace}.{table.name}@{table.path}")
        ),
        "location": os.path.abspath(table.path),
        "last-sequence-number": head.version,
        "last-updated-ms": int(head.commit_ts * 1000),
        "last-column-id": last_col,
        "current-schema-id": sid_of[head.version],
        "schemas": iceberg_schemas,
        # the identity spec when any manifest uses it, else truncate
        "default-spec-id": min(used_specs - {0}, default=0),
        "partition-specs": [specs[i][0] for i in sorted(used_specs)],
        "last-partition-id": max(
            [999]
            + [f["field-id"] for i in used_specs for f in specs[i][0]["fields"]]
        ),
        "default-sort-order-id": 1 if sort_fields else 0,
        "sort-orders": (
            [
                {"order-id": 0, "fields": []},
                {"order-id": 1, "fields": sort_fields},
            ]
            if sort_fields
            else [{"order-id": 0, "fields": []}]
        ),
        "properties": {
            "write.format.default": "parquet",
            # In-place evolution interop: the data files carry no
            # embedded field ids, so the spec's fallback for resolving
            # them is a name mapping listing every physical name each
            # field ever had (renamed-away names resolve old files to
            # the same stable id). The raw event log rides along as an
            # engine-specific property so this engine's own reader can
            # additionally scope drop/re-add by file sequence number —
            # strictly stronger than name mapping, which is name-based
            # and cannot distinguish a re-added column from its dead
            # namesake in pre-drop files.
            **(
                {
                    "schema.name-mapping.default": json.dumps(
                        _name_mapping(
                            views[head.version]["field_ids"], _evo_events
                        )
                    ),
                    "crest.schema-events": json.dumps(_evo_events),
                }
                if has_evolution
                else {}
            ),
        },
        "current-snapshot-id": head.version,
        "snapshots": snapshot_records,
        "snapshot-log": snapshot_log,
        "metadata-log": [],
        "refs": {
            "main": {"snapshot-id": head.version, "type": "branch"},
            # Iceberg tag refs: only tags whose snapshot is in the export
            **{
                name: {"snapshot-id": v, "type": "tag"}
                for name, v in sorted(table.tags().items())
                if any(r["snapshot-id"] == v for r in snapshot_records)
            },
        },
    }
    meta_path = os.path.join(meta_dir, f"v{head.version}.metadata.json")
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(metadata, fh, indent=1)
    os.replace(tmp, meta_path)
    hint = os.path.join(meta_dir, "version-hint.text")
    with open(hint + ".tmp", "w") as fh:
        fh.write(str(head.version))
    os.replace(hint + ".tmp", hint)

    # GC stale export artifacts: snapshots expired from the commit log
    # (or manifests rewritten by a later filtered variant) would otherwise
    # accumulate in metadata/ forever. Keep exactly what this export
    # wrote: the metadata, the manifest lists, the manifests the writer
    # returned and the position-delete files they list.
    referenced = {
        os.path.basename(p)
        for p in [meta_path, hint, *manifests, *posdel_files]
        + [rec["manifest-list"] for rec in snapshot_records]
    }
    for f in os.listdir(meta_dir):
        if f in referenced or f.endswith(".tmp"):
            continue
        if (
            f.startswith(("manifest-", "snap-", "posdel-"))
            or (f.startswith("v") and f.endswith(".metadata.json"))
        ):
            try:
                os.unlink(os.path.join(meta_dir, f))
            except FileNotFoundError:
                pass
    return meta_dir


def _load_metadata(meta_dir: str) -> dict:
    """The current table metadata of an exported ``metadata/``
    directory: ``version-hint.text`` names the ``v<N>.metadata.json``
    to read."""
    with open(os.path.join(meta_dir, "version-hint.text")) as fh:
        v = int(fh.read().strip())
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- REST mirror
def sync_to_rest(table: LakehouseTable, client, *, export: bool = True) -> list[int]:
    """Mirror the commit log into an Iceberg REST catalog: every local
    snapshot the catalog hasn't seen is committed through the spec's
    CommitTableRequest (add-snapshot + set-snapshot-ref main, guarded by
    assert-ref-snapshot-id), which is the reference's actual commit flow
    — write parquet, then one conditional catalog transaction per batch
    (``iceberg_committer.go:122-147``). Idempotent: a re-sync after no
    new commits pushes nothing. Returns the pushed snapshot ids.

    The local commit log stays the source of truth (same stance as the
    ingestion service's table registration); the REST side is mirror
    metadata any external Iceberg reader can follow to the exported
    manifest lists."""
    if export:
        export_iceberg_metadata(table)
    meta = _load_metadata(os.path.join(table.path, "metadata"))
    client.get_or_create_table(table.namespace, table.name, table.schema())
    # schema evolution mirror: if the catalog's current schema is missing
    # columns the table has (merge_schema widened it after registration),
    # push an add-schema + set-current-schema commit first
    local_schema = meta["schemas"][
        [s["schema-id"] for s in meta["schemas"]].index(
            meta["current-schema-id"]
        )
    ]
    remote_meta = client.load_table(table.namespace, table.name).get(
        "metadata", {}
    )
    remote_schemas = {
        s.get("schema-id", 0): s for s in remote_meta.get("schemas", [])
    }
    remote_cur = remote_schemas.get(remote_meta.get("current-schema-id", 0), {})
    local_fields = [(f["name"], f["type"]) for f in local_schema["fields"]]
    remote_fields = [
        (f["name"], f["type"]) for f in remote_cur.get("fields", [])
    ]
    if local_fields != remote_fields:
        evolved = dict(local_schema)
        evolved["schema-id"] = (
            max(remote_schemas, default=0) + 1 if remote_schemas else 0
        )
        client.update_schema(table.namespace, table.name, evolved)
    remote = client.current_snapshot_id(table.namespace, table.name)
    pushed: list[int] = []
    parent = remote
    for snap in meta["snapshots"]:
        sid = snap["snapshot-id"]
        if remote is not None and sid <= remote:
            continue
        client.commit_snapshot(table.namespace, table.name, snap, parent)
        parent = sid
        pushed.append(sid)
    return pushed


# -------------------------------------------------------------------- reader
def _decode_bound(itype: str, b: bytes):
    """Inverse of _single_value_bytes for the prunable primitive types."""
    if b is None:
        return None
    try:
        if itype == "int":
            return struct.unpack("<i", b)[0]
        if itype == "long":
            return struct.unpack("<q", b)[0]
        if itype == "string":
            return b.decode("utf-8")
    except (struct.error, UnicodeDecodeError):
        return None
    return None


def _partition_admits(
    spec_fields: list[dict],
    source_names: dict[int, str],
    part: dict,
    predicates: dict[str, tuple],
) -> bool:
    """False only when a file's partition tuple PROVABLY excludes some
    ``{col: (lo, hi)}`` range — identity is a point, truncate[w] bounds
    the raw values to [v, v+w) for ints / the prefix block for strings.
    Unknown transforms/missing values admit (pruning is one-sided)."""
    for sf in spec_fields:
        col = source_names.get(sf["source-id"])
        if col is None or col not in predicates:
            continue
        lo, hi = predicates[col]
        v = part.get(sf["name"])
        if v is None:
            continue
        tr = sf["transform"]
        if tr == "identity":
            try:
                if (lo is not None and v < lo) or (
                    hi is not None and v > hi
                ):
                    return False
            except TypeError:
                continue
        elif tr.startswith("truncate[") and isinstance(v, int):
            w = int(tr[len("truncate[") : -1])
            try:
                if (lo is not None and v + w <= lo) or (
                    hi is not None and v > hi
                ):
                    return False
            except TypeError:
                continue
        elif tr.startswith("truncate[") and isinstance(v, str):
            # values carry prefix v: all >= v, and < lo whenever
            # v < lo[:len(v)]
            if hi is not None and isinstance(hi, str) and v > hi:
                return False
            if (
                lo is not None
                and isinstance(lo, str)
                and v < lo[: len(v)]
            ):
                return False
    return True


def read_iceberg(
    spark,
    table_dir: str,
    *,
    snapshot_id: int | None = None,
    tag: str | None = None,
    predicates: dict[str, tuple] | None = None,
):
    """Read a table THROUGH its exported Iceberg metadata, never touching
    the commit log: version-hint -> metadata.json -> snapshot (current,
    explicit ``snapshot_id``, or a named ``tag`` ref) -> manifest list ->
    manifests -> parquet file set, with the schema taken from the
    snapshot's registered schema-id. This is what any external Iceberg
    reader does with the same directory; having it in-engine makes the
    export a verified interchange path (write side: commit log; read
    side: pure spec metadata) and gives metadata-level time travel/tag
    reads to consumers that only see the exported directory.

    ``predicates`` (``{col: (lo, hi)}``, either bound None) prunes with
    the EXPORTED partition metadata the way an external planner does:
    manifests are skipped on their manifest-list field summaries, data
    files on their partition tuples (identity and truncate[w] fields,
    multi-column specs included), then the exact range filters apply so
    the result matches the unpruned read filtered bit-for-bit."""
    from crest_spark.functions.schema_convert import iceberg_to_spark_schema

    meta_dir = os.path.join(table_dir, "metadata")
    meta = _load_metadata(meta_dir)
    if tag is not None:
        ref = meta.get("refs", {}).get(tag)
        if ref is None:
            raise ValueError(f"no ref {tag!r} in {meta_dir}")
        snapshot_id = ref["snapshot-id"]
    if snapshot_id is None:
        snapshot_id = meta["current-snapshot-id"]
    snap = next(
        (s for s in meta["snapshots"] if s["snapshot-id"] == snapshot_id),
        None,
    )
    if snap is None:
        raise ValueError(f"snapshot {snapshot_id} not in {meta_dir}")
    schemas = {s["schema-id"]: s for s in meta["schemas"]}
    schema = iceberg_to_spark_schema(
        schemas[snap.get("schema-id", meta["current-schema-id"])]
    )
    _, _, list_entries = avro_io.read_container(snap["manifest-list"])
    # partition pruning setup: spec fields by spec-id, source-id ->
    # (current name, iceberg type) from the snapshot's schema
    specs_by_id = {
        sp["spec-id"]: sp.get("fields", [])
        for sp in meta.get("partition-specs", [])
    }
    src_names: dict[int, str] = {}
    src_types: dict[int, str] = {}
    for f in schemas[snap.get("schema-id", meta["current-schema-id"])][
        "fields"
    ]:
        src_names[f["id"]] = f["name"]
        if isinstance(f["type"], str):
            src_types[f["id"]] = f["type"]

    def _summary_admits(entry) -> bool:
        """Manifest-level skip via the manifest-list field summaries
        (aligned with the entry's spec fields in order)."""
        if not predicates:
            return True
        sfs = specs_by_id.get(entry.get("partition_spec_id", 0)) or []
        sums = entry.get("partitions") or []
        for sf, summ in zip(sfs, sums):
            col = src_names.get(sf["source-id"])
            if col is None or col not in predicates:
                continue
            itype = src_types.get(sf["source-id"])
            if itype is None:
                continue
            lo, hi = predicates[col]
            slo = _decode_bound(itype, summ.get("lower_bound"))
            shi = _decode_bound(itype, summ.get("upper_bound"))
            if slo is None or shi is None or summ.get("contains_null"):
                continue
            tr = sf["transform"]
            if tr.startswith("truncate[") and isinstance(shi, int):
                shi = shi + int(tr[len("truncate[") : -1]) - 1
            elif tr.startswith("truncate[") and isinstance(shi, str):
                continue  # open-ended prefix block upper bound: admit
            elif tr != "identity":
                continue
            try:
                if (lo is not None and shi < lo) or (
                    hi is not None and slo > hi
                ):
                    return False
            except TypeError:
                continue
        return True

    files: list[str] = []
    file_seq: dict[str, int] = {}
    # (sequence_number, equality_ids, delete file paths) per delete entry
    eq_deletes: list[tuple[int, tuple[int, ...], list[str]]] = []
    # (sequence_number, delete file paths) per position-delete group
    pos_deletes: list[tuple[int, list[str]]] = []
    for entry in list_entries:
        if entry.get("content", 0) == 0 and not _summary_admits(entry):
            continue  # every file in it is provably outside the range
        _, _, records = avro_io.read_container(entry["manifest_path"])
        if entry.get("content", 0) == 1:  # delete manifest
            by_ids: dict[tuple[int, int], list[str]] = {}
            by_seq: dict[int, list[str]] = {}
            for rec in records:
                if rec["status"] not in (0, 1):
                    continue
                df_rec = rec["data_file"]
                if df_rec["content"] == 1:  # POSITION_DELETES
                    by_seq.setdefault(rec["sequence_number"], []).append(
                        df_rec["file_path"]
                    )
                    continue
                if df_rec["content"] != 2:
                    raise ValueError(
                        f"unknown delete file content={df_rec['content']}"
                    )
                by_ids.setdefault(
                    (rec["sequence_number"], tuple(df_rec["equality_ids"])),
                    [],
                ).append(df_rec["file_path"])
            for (seq, ids_), paths in by_ids.items():
                eq_deletes.append((seq, ids_, paths))
            for seq, paths in by_seq.items():
                pos_deletes.append((seq, paths))
            continue
        mf_spec_fields = specs_by_id.get(
            entry.get("partition_spec_id", 0)
        ) or []
        for rec in records:
            if rec["status"] in (0, 1):  # EXISTING or ADDED
                if (
                    predicates
                    and mf_spec_fields
                    and not _partition_admits(
                        mf_spec_fields,
                        src_names,
                        rec["data_file"].get("partition") or {},
                        predicates,
                    )
                ):
                    continue  # file's partition tuple excludes the range
                files.append(rec["data_file"]["file_path"])
                # minimal v1-ish manifests may omit sequence numbers;
                # 0 = "oldest" is the conservative side for delete scope
                file_seq[rec["data_file"]["file_path"]] = int(
                    rec.get("sequence_number") or 0
                )
    if not files:
        return spark.createDataFrame([], schema)
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    evo_events = json.loads(
        meta.get("properties", {}).get("crest.schema-events", "[]")
    )
    if evo_events:
        # In-place rename/drop evolution: resolve each data file's
        # physical column names BY VINTAGE (its sequence number vs the
        # event log — the engine-specific property; strictly stronger
        # than the also-exported name mapping, which cannot scope a
        # drop/re-add). Same shared resolution the commit-log reader
        # uses — incl. nested struct-member rebuilds (r10).
        from .table import vintage_scan_groups

        parts = []
        for fs, phys, cols in vintage_scan_groups(
            schema, evo_events, file_seq, sorted(files)
        ):
            df = (
                spark.read.schema(phys)
                .option("mergeSchema", "false")
                .parquet(*fs)
            )
            if pos_deletes:
                # _metadata is scan-scoped: capture the row index inside
                # each vintage scan, before the union projects it away
                cols = list(cols) + [
                    F.col("_metadata.row_index").alias("__ice_pos")
                ]
            parts.append(df.select(*cols))
        out = parts[0]
        for part_df in parts[1:]:
            out = out.unionByName(part_df)
    else:
        out = (
            spark.read.schema(schema)
            .option("mergeSchema", "false")
            .parquet(*sorted(files))
        )
    # pruning is file-granular; the exact row condition keeps the
    # result identical to the unpruned read filtered row-by-row
    exact = _row_cond(predicates or {})
    if not eq_deletes and not pos_deletes:
        return out.where(exact)
    # apply deletes per the spec: an EQUALITY delete file with sequence
    # number S removes matching rows of data files with sequence < S; a
    # POSITION delete file removes its (file_path, pos) rows from data
    # files with sequence <= S.

    field_names = {
        f["id"]: f["name"]
        for f in schemas[snap.get("schema-id", meta["current-schema-id"])][
            "fields"
        ]
    }
    if pos_deletes and "__ice_pos" not in out.columns:
        out = out.withColumn("__ice_pos", F.col("_metadata.row_index"))
    out = _tag_by_file(
        spark, out, file_seq, "__ice_path", "__ice_seq"
    ).withColumn("__ice_seq", F.coalesce(F.col("__ice_seq"), F.lit(0)))
    for seq, ids_, paths in eq_deletes:
        keys = [field_names[i] for i in ids_]
        dd = (
            spark.read.parquet(*sorted(paths))
            .select(*[F.col(k).alias(f"__ice_k_{k}") for k in keys])
        )
        cond = F.col("__ice_seq") < F.lit(int(seq))
        for k in keys:
            cond = cond & (F.col(k) == F.col(f"__ice_k_{k}"))
        out = out.join(F.broadcast(dd), on=cond, how="left_anti")
    for seq, paths in pos_deletes:
        pd = spark.read.parquet(*sorted(paths)).select(
            F.concat(F.lit("file://"), F.col("file_path")).alias(
                "__ice_dpath"
            ),
            F.col("pos").alias("__ice_dpos"),
        )
        # broadcast only a small delete set (manifests record the row
        # count — a backfill-scale materialization must shuffle-join,
        # never ride an executor-memory broadcast)
        if sum(_file_footer(p)[0] for p in paths) <= 2_000_000:
            pd = F.broadcast(pd)
        cond = (
            (F.col("__ice_seq") <= F.lit(int(seq)))
            & (F.col("__ice_path") == F.col("__ice_dpath"))
            & (F.col("__ice_pos") == F.col("__ice_dpos"))
        )
        out = out.join(pd, on=cond, how="left_anti")
    return out.drop("__ice_seq", "__ice_path", "__ice_pos").where(exact)


# ------------------------------------------------------------------- verifier
def read_current_snapshot_files(meta_dir: str) -> dict[str, int]:
    """Independent read-side walk of an exported metadata directory:
    version-hint -> metadata.json -> current snapshot -> manifest list ->
    manifests -> ``{data_file_path: record_count}``. Used by tests to
    prove the Avro/metadata round-trip against the commit log's state."""
    meta = _load_metadata(meta_dir)
    current = meta["current-snapshot-id"]
    snap = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == current
    )
    _, _, list_entries = avro_io.read_container(snap["manifest-list"])
    files: dict[str, int] = {}
    for entry in list_entries:
        if entry.get("content", 0) == 1:
            continue  # delete manifest: not part of the data file walk
        _, mmeta, records = avro_io.read_container(entry["manifest_path"])
        assert mmeta.get("format-version") == "2"
        for rec in records:
            if rec["status"] in (1, 0):  # ADDED or EXISTING
                df = rec["data_file"]
                files[df["file_path"]] = df["record_count"]
    return files
