"""In-place column rename/drop (VERDICT r8 next-round #2): field-id
stable metadata-only evolution — the reference README's promised
`schema evolution handled automatically` (`/root/reference/README.md:24`)
that its Go engine never implemented. Old files are resolved BY VINTAGE
through the commit log's rename/drop event log: no data rewrite, reads
union per-vintage aliased scans, pruning stats keep working under the
old physical names, and a drop/re-add never resurrects dead bytes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crest_spark.lakehouse import LakehouseCatalog


@pytest.fixture()
def cat(tmp_path):
    return LakehouseCatalog(str(tmp_path / "wh"))


def _mk(spark, cat, name="t"):
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b")], "id int, v double, tag string"
    )
    t = cat.get_or_create_table(name, df.schema)
    t.append(df)
    return t


def test_rename_reads_across_vintages(spark, cat):
    t = _mk(spark, cat)
    v_renamed = t.rename_column("v", "value")
    t.append(
        spark.createDataFrame(
            [(3, 30.0, "c")], "id int, value double, tag string"
        )
    )
    rows = sorted((r["id"], r["value"]) for r in t.read(spark).collect())
    assert rows == [(1, 10.0), (2, 20.0), (3, 30.0)]
    # metadata-only: the rename commit carries no files
    assert t.snapshots()[v_renamed - 1].files == []
    # time travel BEFORE the rename still shows the old name+data
    old = t.read(spark, version=v_renamed - 1)
    assert "v" in old.columns and "value" not in old.columns
    assert sorted(r["v"] for r in old.collect()) == [10.0, 20.0]


def test_rename_scan_filters_and_prunes_old_vintage(spark, cat):
    t = _mk(spark, cat)
    t.rename_column("v", "value")
    t.append(
        spark.createDataFrame(
            [(3, 30.0, "c")], "id int, value double, tag string"
        )
    )
    got = sorted(
        r["id"] for r in t.scan(spark, {"value": (15.0, None)}).collect()
    )
    assert got == [2, 3]
    # point-range pruning on an INT column translated to the old
    # physical name: files of the old vintage prune via their 'id' stats
    pf = t.pruned_files({"id": (3, 3)})
    assert len(pf) < t.file_count()


def test_field_ids_move_retire_and_never_come_back(spark, cat):
    t = _mk(spark, cat)
    fids0 = t.field_ids()
    t.rename_column("v", "value")
    assert t.field_ids()["value"] == fids0["v"]
    t.drop_column("tag")
    assert "tag" not in t.field_ids()
    t.append(
        spark.createDataFrame(
            [(4, 40.0, "NEW")], "id int, value double, tag string"
        ),
        merge_schema=True,
    )
    assert t.field_ids()["tag"] > max(fids0.values())  # fresh id


def test_drop_then_readd_reads_null_for_old_files(spark, cat):
    t = _mk(spark, cat)
    t.drop_column("tag")
    assert "tag" not in t.read(spark).columns
    t.append(
        spark.createDataFrame(
            [(3, 30.0, "NEW")], "id int, v double, tag string"
        ),
        merge_schema=True,
    )
    rows = {r["id"]: r["tag"] for r in t.read(spark).collect()}
    assert rows == {1: None, 2: None, 3: "NEW"}
    # a bounded predicate on the re-added column prunes pre-birth files
    # outright (they are all-NULL for it)
    pf = t.pruned_files({"tag": ("A", "zzz")})
    old_files = set(t._state()["files"]) - set(pf)
    assert old_files  # the pre-drop vintage was excluded metadata-only


def test_unbounded_range_member_admits_files_older_than_a_readded_column(
    spark, cat
):
    """An explicit ``(None, None)`` member of a multi-range predicate
    admits every row, NULL included — so it admits the files that read
    a re-added column as all NULL, and scan equals the filtered read."""
    t = _mk(spark, cat)
    t.drop_column("tag")
    t.append(
        spark.createDataFrame(
            [(3, 30.0, "NEW")], "id int, v double, tag string"
        ),
        merge_schema=True,
    )
    preds = {"tag": [("A", "B"), (None, None)]}
    assert t.pruned_files(preds) == t._state()["files"]
    assert sorted(r["id"] for r in t.scan(spark, preds).collect()) == [
        1,
        2,
        3,
    ]


def test_dml_keeps_files_older_than_a_readded_column(spark, cat):
    """The pre-birth rule reaches the copy-on-write planners: files
    written before a drop + re-add read the column as all NULL, which a
    bounded delete/update predicate on it never matches, so both verbs
    carry those files by reference instead of reading and rewriting
    them."""
    t = _mk(spark, cat)
    old_files = set(t._state()["files"])
    t.drop_column("tag")
    t.append(
        spark.createDataFrame(
            [(3, 30.0, "NEW"), (4, 40.0, "OLD")],
            "id int, v double, tag string",
        ),
        merge_schema=True,
    )
    t.delete(spark, {"tag": ("OLD", "OLD")})
    assert old_files <= set(t._state()["files"])
    t.update(spark, {"tag": ("NEW", "NEW")}, {"v": "v + 1"})
    assert old_files <= set(t._state()["files"])
    rows = {r["id"]: (r["v"], r["tag"]) for r in t.read(spark).collect()}
    assert rows == {1: (10.0, None), 2: (20.0, None), 3: (31.0, "NEW")}


def test_rename_guards(spark, cat):
    t = _mk(spark, cat)
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("v", "tag")
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("nope", "x")
    t.add_constraint(spark, "v_pos", "v > 0")
    with pytest.raises(ValueError, match="v_pos"):
        t.rename_column("v", "value")
    with pytest.raises(ValueError, match="v_pos"):
        t.drop_column("v")
    t.drop_constraint("v_pos")
    sv = t.append(
        spark.createDataFrame([(9, 9.0, "z")], "id int, v double, tag string"),
        stage=True,
    )
    with pytest.raises(ValueError, match="staged"):
        t.rename_column("v", "value")
    t.discard_staged([sv])
    t.rename_column("v", "value")  # clean table: allowed


def test_rename_refused_with_pending_mor_deltas(spark, cat):
    t = _mk(spark, cat)
    t.delete(spark, {"id": (1, 1)}, mode="mor")
    with pytest.raises(ValueError, match="merge-on-read"):
        t.rename_column("v", "value")
    t.compact(spark)
    t.rename_column("v", "value")
    rows = sorted((r["id"], r["value"]) for r in t.read(spark).collect())
    assert rows == [(2, 20.0)]


def test_rollback_across_rename_restores_resolution(spark, cat):
    t = _mk(spark, cat)
    pre = t.version()
    t.rename_column("v", "value")
    t.append(
        spark.createDataFrame(
            [(3, 30.0, "c")], "id int, value double, tag string"
        )
    )
    t.rollback(pre)
    assert "v" in t.read(spark).columns
    assert sorted(r["v"] for r in t.read(spark).collect()) == [10.0, 20.0]
    # a fresh rename after the rollback works on the restored schema,
    # and the event log of the abandoned timeline does not leak in
    t.rename_column("v", "val2")
    rows = sorted((r["id"], r["val2"]) for r in t.read(spark).collect())
    assert rows == [(1, 10.0), (2, 20.0)]


def test_evolution_survives_checkpoint_and_expiry(spark, cat):
    t = _mk(spark, cat)
    t.checkpoint_interval = 1  # checkpoint every commit
    t.rename_column("v", "value")
    t.append(
        spark.createDataFrame(
            [(3, 30.0, "c")], "id int, value double, tag string"
        )
    )
    # fold from the checkpoint (not the raw log): resolution intact
    rows = sorted((r["id"], r["value"]) for r in t.read(spark).collect())
    assert rows == [(1, 10.0), (2, 20.0), (3, 30.0)]
    fids = t.field_ids()
    # expire history past the rename commit: the fold boundary must
    # carry the event log + field ids
    t.expire_snapshots(keep_last=1)
    rows = sorted((r["id"], r["value"]) for r in t.read(spark).collect())
    assert rows == [(1, 10.0), (2, 20.0), (3, 30.0)]
    assert t.field_ids() == fids


def test_append_old_name_after_rename_is_new_column(spark, cat):
    """Name-based writer contract: appending with the OLD name after a
    rename adds a NEW column (merge_schema), it does not silently feed
    the renamed one."""
    t = _mk(spark, cat)
    t.rename_column("v", "value")
    with pytest.raises(ValueError, match="new columns"):
        t.append(
            spark.createDataFrame(
                [(4, 4.0, "d")], "id int, v double, tag string"
            )
        )


def test_read_changes_across_rename_resolves_vintages(spark, cat):
    """A rename INSIDE an incremental-read window: the window's older
    commits' files still hold the old physical name — the change feed
    must surface their values under the CURRENT name, not NULL them
    (the name-based-read CDF corruption)."""
    t = _mk(spark, cat)  # v1: (id, v, tag)
    base = t.version()
    t.append(
        spark.createDataFrame([(3, 30.0, "c")], "id int, v double, tag string")
    )
    t.rename_column("v", "value")
    t.append(
        spark.createDataFrame(
            [(4, 40.0, "d")], "id int, value double, tag string"
        )
    )
    delta = t.read_changes(spark, after=base)
    rows = {r["id"]: r["value"] for r in delta.collect()}
    assert rows == {3: 30.0, 4: 40.0}
    cdf = t.read_changes(spark, after=base, cdf=True)
    got = {
        (r["id"], r["value"], r["_change_type"], r["_commit_version"])
        for r in cdf.collect()
    }
    assert (3, 30.0, "insert", base + 1) in got
    assert (4, 40.0, "insert", base + 3) in got


def test_compact_update_export_after_rename(spark, cat, tmp_path):
    """Maintenance verbs compose with evolution: an UPDATE addressed by
    the NEW name rewrites the right rows across vintages, a compact
    folds every vintage into current-name files (the vintage groups
    disappear), and the export after all of it round-trips through
    read_iceberg."""
    from crest_spark.lakehouse.iceberg_export import (
        export_iceberg_metadata,
        read_iceberg,
    )

    t = _mk(spark, cat)
    t.rename_column("v", "value")
    t.append(
        spark.createDataFrame(
            [(3, 30.0, "c")], "id int, value double, tag string"
        )
    )
    t.update(spark, {"id": (2, 2)}, {"value": "value + 100"})
    rows = {r["id"]: r["value"] for r in t.read(spark).collect()}
    assert rows == {1: 10.0, 2: 120.0, 3: 30.0}
    t.compact(spark)
    assert not t._state()["deletes"]
    rows = {r["id"]: r["value"] for r in t.read(spark).collect()}
    assert rows == {1: 10.0, 2: 120.0, 3: 30.0}
    export_iceberg_metadata(t)
    got = {
        r["id"]: r["value"] for r in read_iceberg(spark, t.path).collect()
    }
    assert got == rows


def test_stale_schema_append_cannot_revert_rename(spark, cat):
    """Race regression (r9 self-review): an append whose writer read
    the schema BEFORE a concurrent rename landed commits the stale
    pre-rename schema json. The state fold must union-evolve, not
    trust it — otherwise the rename silently reverts and the moved
    field id is retired."""
    import json as _json
    import time as _time

    t = _mk(spark, cat)
    old_schema_json = t._state()["schema"]  # (id, v, tag)
    t.rename_column("v", "value")
    fid_value = t.field_ids()["value"]
    # simulate the racer's commit landing AFTER the rename with the
    # stale schema (a metadata-only append is enough to exercise fold)
    t._try_commit(
        {
            "operation": "append",
            "files": [],
            "stats": {},
            "schema": old_schema_json,
            "commit_ts": _time.time(),
            "num_rows": 0,
            "extra": {},
        }
    )
    cols = {f.name for f in t.schema().fields}
    assert "value" in cols  # the rename survives the stale commit
    assert t.field_ids()["value"] == fid_value  # id not retired
    # the stale append's 'v' surfaces as a NEW nullable column (its
    # files' data stays reachable), never as the renamed one
    assert "v" in cols
    assert t.field_ids()["v"] != fid_value
    rows = sorted((r["id"], r["value"]) for r in t.read(spark).collect())
    assert rows == [(1, 10.0), (2, 20.0)]


def test_merge_prunes_old_vintage_files_on_renamed_key(spark, cat):
    """CoW merge keyed on a RENAMED column must keep pruning: old files
    recorded their key stats under the old physical name, and the
    vintage-aware stats view maps them — without it every old file is
    conservatively rewritten and a 100 TB CDC merge becomes a table
    rewrite."""
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)], "k int, v double"
    )
    t = cat.get_or_create_table("mk", df.schema)
    t.append(df, cluster_by=["k"], cluster_partitions=4)
    t.rename_column("k", "key")
    files_before = set(t._state()["files"])
    # update one narrow key range: only the file whose old-vintage 'k'
    # stats admit it may be rewritten
    t.merge(
        spark,
        spark.createDataFrame([(5, 500.0)], "key int, v double"),
        key="key",
    )
    state = t._state()
    kept = files_before & set(state["files"])
    assert len(kept) == len(files_before) - 1  # 3 of 4 carried by ref
    rows = {r["key"]: r["v"] for r in t.read(spark).collect()}
    assert rows[5] == 500.0 and rows[6] == 6.0 and len(rows) == 100


def test_export_field_ids_match_table_after_stale_append_race(spark, cat):
    """Regression (r9 advice, low): the Iceberg export's field-id
    replay must union-evolve append schemas exactly like the table
    state fold (shared _folded_schema_json) — in the append-vs-rename
    racy history the old replay folded the RAW stale json, retired the
    renamed column's id and minted a fresh one, so exported ids
    diverged from LakehouseTable.field_ids()."""
    import json as _json
    import os as _os
    import time as _time

    from crest_spark.lakehouse.iceberg_export import export_iceberg_metadata

    t = _mk(spark, cat)
    old_schema_json = t._state()["schema"]
    t.rename_column("v", "value")
    t._try_commit(
        {
            "operation": "append",
            "files": [],
            "stats": {},
            "schema": old_schema_json,
            "commit_ts": _time.time(),
            "num_rows": 0,
            "extra": {},
        }
    )
    meta_dir = export_iceberg_metadata(t)
    with open(
        _os.path.join(meta_dir, f"v{t.version()}.metadata.json")
    ) as fh:
        meta = _json.load(fh)
    cur = next(
        s for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    exported_ids = {f["name"]: f["id"] for f in cur["fields"]}
    assert exported_ids == t.field_ids()  # incl. value keeping its id
    assert "value" in exported_ids and "v" in exported_ids


def test_expiry_keeps_field_ids_after_stale_append_race(spark, cat):
    """Expiry must fold the prefix's field ids exactly like the state
    fold: after an append-vs-rename race (the stale append records the
    pre-rename schema) the live renamed column keeps its id — a fold
    that assigned ids from the raw recorded schema retired it and
    minted a fresh one."""
    import time as _time

    df = spark.createDataFrame([(1, 10.0)], "a int, b double")
    t = cat.get_or_create_table("race_expiry", df.schema)
    t.append(df)
    old_schema_json = t._state()["schema"]
    t.rename_column("b", "c")
    t._try_commit(
        {
            "operation": "append",
            "files": [],
            "stats": {},
            "schema": old_schema_json,
            "commit_ts": _time.time(),
            "num_rows": 0,
            "extra": {},
        }
    )
    t.append(spark.createDataFrame([(2, 20.0, None)], t.schema()))
    before = dict(t._state()["field_ids"])
    assert before == {"a": 1, "c": 2, "b": 3}
    rows = sorted((r["a"], r["c"]) for r in t.read(spark).collect())
    assert t.expire_snapshots(keep_last=1)
    assert t._state()["field_ids"] == before
    assert sorted((r["a"], r["c"]) for r in t.read(spark).collect()) == rows


# --------------------------------------------------- nested-field evolution
def _mk_nested(spark, cat, name="nt"):
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [(1, Row(b=10.0, z="x")), (2, Row(b=20.0, z="y"))],
        "id int, a struct<b double, z string>",
    )
    t = cat.get_or_create_table(name, df.schema)
    t.append(df)
    return t


def test_nested_member_rename_reads_across_vintages(spark, cat):
    """VERDICT r9 next-round #3: rename a.b -> a.c between appends; the
    read rebuilds the struct per vintage class so both file vintages
    resolve to ONE current schema, and the member's field id moves with
    the rename."""
    t = _mk_nested(spark, cat)
    id_b = t.nested_field_ids()["a.b"]
    t.rename_column("a.b", "a.c")
    assert t.nested_field_ids()["a.c"] == id_b
    assert "a.b" not in t.nested_field_ids()
    t.append(
        spark.createDataFrame(
            [(3, {"c": 30.0, "z": "z"})], "id int, a struct<c double, z string>"
        )
    )
    rows = sorted(
        (r["id"], r["a"]["c"], r["a"]["z"]) for r in t.read(spark).collect()
    )
    assert rows == [(1, 10.0, "x"), (2, 20.0, "y"), (3, 30.0, "z")]
    # time travel before the rename still reads the old member name
    old = sorted((r["id"], r["a"]["b"]) for r in t.read(spark, version=2).collect())
    assert old == [(1, 10.0), (2, 20.0)]


def test_nested_member_drop_and_readd_gets_fresh_id(spark, cat):
    """Dropping a.z retires its id; a re-added a.z is a NEW field: old
    files read NULL for it instead of resurrecting the dead bytes."""
    t = _mk_nested(spark, cat)
    old_id = t.nested_field_ids()["a.z"]
    t.drop_column("a.z")
    assert "a.z" not in t.nested_field_ids()
    assert [f.name for f in t.schema()["a"].dataType.fields] == ["b"]
    t.append(
        spark.createDataFrame(
            [(3, {"b": 30.0, "z": "NEW"})],
            "id int, a struct<b double, z string>",
        ),
        merge_schema=True,
    )
    assert t.nested_field_ids()["a.z"] != old_id
    rows = sorted(
        (r["id"], r["a"]["b"], r["a"]["z"]) for r in t.read(spark).collect()
    )
    assert rows == [(1, 10.0, None), (2, 20.0, None), (3, 30.0, "NEW")]


def test_parent_struct_rename_moves_subtree_ids(spark, cat):
    """Renaming the struct itself re-keys the whole subtree's ids and
    old files resolve through the prefix-aware vintage source."""
    t = _mk_nested(spark, cat)
    before = dict(t.nested_field_ids())
    t.rename_column("a", "meta")
    after = t.nested_field_ids()
    assert after["meta.b"] == before["a.b"]
    assert after["meta.z"] == before["a.z"]
    rows = sorted((r["id"], r["meta"]["b"]) for r in t.read(spark).collect())
    assert rows == [(1, 10.0), (2, 20.0)]
    # chained: member rename UNDER the renamed parent
    t.rename_column("meta.b", "meta.score")
    t.append(
        spark.createDataFrame(
            [(3, {"score": 30.0, "z": "z"})],
            "id int, meta struct<score double, z string>",
        )
    )
    rows = sorted(
        (r["id"], r["meta"]["score"]) for r in t.read(spark).collect()
    )
    assert rows == [(1, 10.0), (2, 20.0), (3, 30.0)]
    assert t.nested_field_ids()["meta.score"] == before["a.b"]


def test_nested_rename_rejects_reparent_and_reserved(spark, cat):
    t = _mk_nested(spark, cat)
    with pytest.raises(ValueError, match="parent path"):
        t.rename_column("a.b", "c")
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("a.nope", "a.x")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("a.b", "a.z")
    df = spark.createDataFrame(
        [(1, [{"x": 1}])], "id int, arr array<struct<x int>>"
    )
    ta = cat.get_or_create_table("arrt", df.schema)
    ta.append(df)
    with pytest.raises(ValueError, match="element"):
        ta.rename_column("arr.element", "arr.e2")
    mdf = spark.createDataFrame(
        [(1, {"k": {"x": 1}})], "id int, m map<string, struct<x int>>"
    )
    tm = cat.get_or_create_table("mapt", mdf.schema)
    tm.append(mdf)
    with pytest.raises(ValueError, match="keys cannot"):
        tm.rename_column("m.key", "m.k2")
    t.drop_column("a.b")
    with pytest.raises(ValueError, match="only member"):
        t.drop_column("a.z")  # would leave an empty struct


def test_rename_inside_array_of_structs_across_vintages(spark, cat):
    """arr.element.x -> arr.element.y: metadata-only; old files rebuild
    element-wise (transform) so both vintages read as one schema; the
    member's field id moves; drop of an element member reads NULL from
    old files after a re-add."""
    df = spark.createDataFrame(
        [(1, [{"x": 10, "w": "a"}, {"x": 11, "w": "b"}])],
        "id int, arr array<struct<x int, w string>>",
    )
    t = cat.get_or_create_table("arrv", df.schema)
    t.append(df)
    nid = t.nested_field_ids()["arr.element.x"]
    t.rename_column("arr.element.x", "arr.element.y")
    assert t.nested_field_ids()["arr.element.y"] == nid
    t.append(
        spark.createDataFrame(
            [(2, [{"y": 20, "w": "c"}])],
            "id int, arr array<struct<y int, w string>>",
        )
    )
    rows = {
        r["id"]: [(e["y"], e["w"]) for e in r["arr"]]
        for r in t.read(spark).collect()
    }
    assert rows == {1: [(10, "a"), (11, "b")], 2: [(20, "c")]}
    # time travel before the rename: old member name intact
    old = t.read(spark, version=2).collect()[0]
    assert old["arr"][0]["x"] == 10
    # drop + re-add of an element member: fresh id, old bytes dead
    old_w = t.nested_field_ids()["arr.element.w"]
    t.drop_column("arr.element.w")
    t.append(
        spark.createDataFrame(
            [(3, [{"y": 30, "w": "NEW"}])],
            "id int, arr array<struct<y int, w string>>",
        ),
        merge_schema=True,
    )
    assert t.nested_field_ids()["arr.element.w"] != old_w
    rows = {
        r["id"]: [(e["y"], e["w"]) for e in r["arr"]]
        for r in t.read(spark).collect()
    }
    assert rows == {
        1: [(10, None), (11, None)],
        2: [(20, None)],
        3: [(30, "NEW")],
    }


def test_rename_inside_map_values_across_vintages(spark, cat):
    """m.value.x -> m.value.y: map values rebuild via transform_values;
    map keys are untouched."""
    mdf = spark.createDataFrame(
        [(1, {"k1": {"x": 1.5}})], "id int, m map<string, struct<x double>>"
    )
    t = cat.get_or_create_table("mapv", mdf.schema)
    t.append(mdf)
    t.rename_column("m.value.x", "m.value.y")
    t.append(
        spark.createDataFrame(
            [(2, {"k2": {"y": 2.5}})],
            "id int, m map<string, struct<y double>>",
        )
    )
    rows = {
        r["id"]: {k: v["y"] for k, v in r["m"].items()}
        for r in t.read(spark).collect()
    }
    assert rows == {1: {"k1": 1.5}, 2: {"k2": 2.5}}


def test_nested_widening_merge_schema_no_events(spark, cat):
    """A merge_schema append may ADD a struct member (recursive union-
    evolve): old files null-fill the missing subfield on the fast path
    (no events, single scan)."""
    t = _mk_nested(spark, cat)
    t.append(
        spark.createDataFrame(
            [(3, {"b": 30.0, "z": "z", "w": 7})],
            "id int, a struct<b double, z string, w int>",
        ),
        merge_schema=True,
    )
    rows = sorted((r["id"], r["a"]["w"]) for r in t.read(spark).collect())
    assert rows == [(1, None), (2, None), (3, 7)]
    assert t.nested_field_ids()["a.w"] > max(
        v for k, v in t.field_ids().items()
    )


def test_nested_member_type_promotion_merge_schema(spark, cat):
    """Recursive union-evolve also PROMOTES widenable member types
    (int -> long inside a struct), same lattice as top-level."""
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [(1, Row(n=7, z="x"))], "id int, a struct<n int, z string>"
    )
    t = cat.get_or_create_table("tp", df.schema)
    t.append(df)
    t.append(
        spark.createDataFrame(
            [(2, Row(n=2**40, z="y"))], "id int, a struct<n long, z string>"
        ),
        merge_schema=True,
    )
    assert (
        t.schema()["a"].dataType["n"].dataType.typeName() == "long"
    )
    rows = sorted((r["id"], r["a"]["n"]) for r in t.read(spark).collect())
    assert rows == [(1, 7), (2, 2**40)]


def test_change_feed_resolves_nested_member_rename(spark, cat):
    """An incremental-read window SPANNING a nested member rename: the
    window's older commits' files hold the old member name — the feed
    surfaces their values under the CURRENT name via the per-vintage
    struct rebuild, not as NULLs."""
    t = _mk_nested(spark, cat)
    base = t.version()
    t.append(
        spark.createDataFrame(
            [(3, {"b": 30.0, "z": "q"})],
            "id int, a struct<b double, z string>",
        )
    )
    t.rename_column("a.b", "a.c")
    t.append(
        spark.createDataFrame(
            [(4, {"c": 40.0, "z": "r"})],
            "id int, a struct<c double, z string>",
        )
    )
    feed = t.read_changes(spark, after=base)
    rows = {r["id"]: r["a"]["c"] for r in feed.collect()}
    assert rows == {3: 30.0, 4: 40.0}
