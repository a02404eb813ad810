"""Round-6 merge-on-read CDC semantics (lakehouse/table.py):

- sequence-aware deltas: ``merge(strategy='mor', sequence_col=...)``
  resolves contested keys to the per-key winner by sequence value at
  scan time — same visible semantics as the copy-on-write sequence
  merge, convergent under out-of-order / re-delivered batches
  (ADVICE r5 medium: MoR silently dropped sequence ordering).
- MoR x change data feed: ``merge(strategy='mor', change_feed=True)``
  stages the row-level change set (reading the touched region, the
  same O(touched files) class CoW CDC pays) while still rewriting no
  data file, and ``read_changes(cdf=True)`` folds across the delta
  (VERDICT r5 "Next round" #1: the two flagship CDC features were
  mutually exclusive).
- bounded large-merge path: ``strategy='auto'`` routes backfill-scale
  key sets to CoW, delete-key files land sorted/multi-file, and delta
  application falls back to a shuffle join above the broadcast cap
  (VERDICT r5 "What's wrong" #1).
- empty-batch and schema-widening hardening (ADVICE r5 lows).

Reference stake: crest's continuous commit loop
(`/root/reference/pkg/ingestor/ingestor.go:131-152`) at CDC rates.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crest_spark.lakehouse import LakehouseCatalog


def _cat(tmp_path, name="wh"):
    return LakehouseCatalog(str(tmp_path / name))


def _mk(spark, tmp_path, name="t", n=60, files=4):
    df = spark.createDataFrame(
        [(i, f"v{i}", 0) for i in range(n)],
        "id int, val string, seq long",
    )
    t = _cat(tmp_path).get_or_create_table(name, df.schema)
    t.append(df, cluster_by=["id"], max_rows_per_file=max(1, n // files))
    return t, df


def _batch(spark, rows):
    return spark.createDataFrame(rows, "id int, val string, seq long")


def _snap(t, spark):
    return sorted(
        (r["id"], r["val"], r["seq"]) for r in t.read(spark).collect()
    )


# ------------------------------------------------------ sequence-aware MoR


def test_mor_sequence_out_of_order_converges_like_cow(spark, tmp_path):
    """Replaying batches out of order must converge to the same state
    under MoR as under CoW: an old sequence value can never regress a
    key (the r5 MoR path was last-writer-wins and would have)."""
    t_mor, _ = _mk(spark, tmp_path, "mor")
    t_cow, _ = _mk(spark, tmp_path, "cow")
    batches = [
        _batch(spark, [(3, "new3", 10), (4, "new4", 10)]),
        _batch(spark, [(3, "stale3", 5)]),  # out of order: must lose
        _batch(spark, [(4, "newer4", 12), (70, "ins70", 1)]),
        _batch(spark, [(3, "new3", 10)]),  # exact redelivery: no-op
    ]
    for b in batches:
        t_mor.merge(spark, b, key="id", sequence_col="seq", strategy="mor")
        t_cow.merge(spark, b, key="id", sequence_col="seq")
    assert _snap(t_mor, spark) == _snap(t_cow, spark)
    rows = {r["id"]: (r["val"], r["seq"]) for r in t_mor.read(spark).collect()}
    assert rows[3] == ("new3", 10)  # stale replay did not regress
    assert rows[4] == ("newer4", 12)
    assert rows[70] == ("ins70", 1)
    # compact folds the deltas without changing the rowset
    before = _snap(t_mor, spark)
    t_mor.compact(spark, target_partitions=2)
    assert not t_mor._state()["deletes"]
    assert _snap(t_mor, spark) == before


def test_mor_sequence_never_rewrites_data_files(spark, tmp_path):
    """Sequence awareness must not cost the MoR scale contract: data
    files stay physically untouched across sequence-conditioned deltas."""
    t, _ = _mk(spark, tmp_path)
    original = set(t._state()["files"])
    for s in (7, 3, 9):  # out-of-order hot-key stream
        t.merge(
            spark,
            _batch(spark, [(5, f"s{s}", s)]),
            key="id",
            sequence_col="seq",
            strategy="mor",
        )
    st = t._state()
    assert original <= set(st["files"])
    assert len(st["deletes"]) == 3
    got = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert got[5] == "s9"  # max sequence wins, not last commit


@pytest.mark.parametrize(
    "cur_seq,tomb_seq,upd_seq,expect",
    [
        (10, 5, 3, "cur"),  # both lose to the current row
        (10, 5, 12, "upd"),  # update beats current, tomb irrelevant
        (3, 5, 12, "upd"),  # tomb kills current, update survives
        (3, 12, 5, "gone"),  # tomb beats everything: key deleted
        (3, 12, None, "gone"),  # pure tombstone wins
        (13, 12, 5, "cur"),  # current outlives a losing tombstone
    ],
)
def test_mor_sequence_tombstones_match_cow(
    spark, tmp_path, cur_seq, tomb_seq, upd_seq, expect
):
    """Debezium-style tombstones under sequence-aware MoR: every
    win/lose combination matches the CoW sequence merge."""
    rows = [(1, "cur", cur_seq)]
    base = spark.createDataFrame(rows, "id int, val string, seq long")
    t_mor = _cat(tmp_path, "m").get_or_create_table("t", base.schema)
    t_cow = _cat(tmp_path, "c").get_or_create_table("t", base.schema)
    t_mor.append(base)
    t_cow.append(base)
    upd_rows = [(1, "x", tomb_seq, True)]
    if upd_seq is not None:
        upd_rows.append((1, "upd", upd_seq, False))
    upd = spark.createDataFrame(
        upd_rows, "id int, val string, seq long, op_del boolean"
    )
    for tbl, strat in ((t_mor, "mor"), (t_cow, "cow")):
        tbl.merge(
            spark,
            upd,
            key="id",
            sequence_col="seq",
            delete_col="op_del",
            strategy=strat,
        )
    got_mor = _snap(t_mor, spark)
    assert got_mor == _snap(t_cow, spark)
    if expect == "gone":
        assert got_mor == []
    else:
        assert len(got_mor) == 1 and got_mor[0][1] == expect
    # and the fold agrees
    t_mor.compact(spark)
    assert _snap(t_mor, spark) == got_mor


def test_mor_mixed_entry_order_is_commit_order(spark, tmp_path):
    """Interleaved last-writer-wins and sequence-aware deltas on the
    same key must apply in commit order: a later LWW delta supersedes
    an earlier sequence winner, and a later sequence delta ranks
    against the LWW survivor — mirrored against a CoW twin."""
    t_mor, _ = _mk(spark, tmp_path, "mor")
    t_cow, _ = _mk(spark, tmp_path, "cow")
    steps = [
        dict(updates=[(8, "seqwin", 50)], sequence_col="seq"),
        dict(updates=[(8, "lww", 1)], sequence_col=None),  # supersedes 50!
        dict(updates=[(8, "seq2", 40)], sequence_col="seq"),
    ]
    for s in steps:
        b = _batch(spark, s["updates"])
        t_mor.merge(
            spark, b, key="id",
            sequence_col=s["sequence_col"], strategy="mor",
        )
        t_cow.merge(spark, b, key="id", sequence_col=s["sequence_col"])
    assert _snap(t_mor, spark) == _snap(t_cow, spark)
    got = {r["id"]: r["val"] for r in t_mor.read(spark).collect()}
    # LWW wiped the seq-50 row, so seq-40 wins over the LWW survivor
    assert got[8] == "seq2"


# ------------------------------------------------------- MoR x change feed


def test_mor_change_feed_fold_equals_final_state(spark, tmp_path):
    """The VERDICT r5 top item: read_changes(cdf=True) across MoR
    commits folds to exactly the final state, while no data file was
    rewritten by any of them."""
    t, df = _mk(spark, tmp_path, n=40, files=4)
    original = set(t._state()["files"])
    waves = [
        _batch(spark, [(3, "w1", 1), (9, "w1", 1), (100, "ins", 1)]),
        _batch(spark, [(3, "w2", 2), (15, "w2", 2)]),
        _batch(spark, [(9, "w3", 3), (100, "upd", 3)]),
    ]
    for w in waves:
        t.merge(
            spark, w, key="id",
            sequence_col="seq", change_feed=True, strategy="mor",
        )
    assert original <= set(t._state()["files"])  # still zero rewrites
    ch = t.read_changes(spark, after=1, cdf=True)
    assert set(ch.select("_change_type").distinct().toPandas()["_change_type"]) == {
        "insert", "update_preimage", "update_postimage",
    }
    # fold: base snapshot at version 1 + signed delta == final state
    base = t.read(spark, version=1)
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    folded = (
        base.withColumn("__s", F.lit(1))
        .unionByName(
            ch.withColumn("__s", sign).drop("_change_type", "_commit_version")
        )
        .groupBy("id", "val", "seq")
        .agg(F.sum("__s").alias("__n"))
        .where(F.col("__n") > 0)
    )
    assert sorted(
        (r["id"], r["val"], r["seq"]) for r in folded.collect()
    ) == _snap(t, spark)


def test_mor_change_feed_with_tombstones_emits_deletes(spark, tmp_path):
    t, _ = _mk(spark, tmp_path, n=20, files=2)
    upd = spark.createDataFrame(
        [(4, "x", 9, True), (5, "up5", 9, False)],
        "id int, val string, seq long, d boolean",
    )
    t.merge(
        spark, upd, key="id", sequence_col="seq",
        delete_col="d", change_feed=True, strategy="mor",
    )
    ch = t.read_changes(spark, after=1, cdf=True)
    by_type = {
        (r["_change_type"], r["id"]) for r in ch.collect()
    }
    assert ("delete", 4) in by_type
    assert ("update_preimage", 5) in by_type
    assert ("update_postimage", 5) in by_type
    assert 4 not in {r["id"] for r in t.read(spark).collect()}


def test_mor_without_change_feed_still_refuses_incremental(spark, tmp_path):
    """Honesty preserved: a MoR commit that staged no change set still
    raises on incremental reads instead of fabricating one."""
    t, _ = _mk(spark, tmp_path, n=10, files=1)
    t.merge(spark, _batch(spark, [(1, "x", 1)]), key="id", strategy="mor")
    with pytest.raises(ValueError, match="merge-on-read"):
        t.read_changes(spark, after=1, cdf=True)
    with pytest.raises(ValueError, match="merge-on-read"):
        t.read_changes(spark, after=1)


# ------------------------------------------- bounded large-merge MoR path


def test_auto_routes_backfill_scale_keysets_to_cow(spark, tmp_path):
    """strategy='auto' must not let a backfill-sized key set through the
    MoR door just because it touches many files (VERDICT r5 wrong #1):
    the delta would never be small. Gate: estimated distinct keys."""
    t, df = _mk(spark, tmp_path, n=400, files=10)
    backfill = df.select(
        "id", F.lit("bf").alias("val"), F.lit(1).cast("long").alias("seq")
    )
    t.merge(
        spark, backfill, key="id", strategy="auto",
        mor_file_threshold=2, mor_key_threshold=100,
    )
    head = t.versions()[-1]
    import json as _json

    with open(t._version_file(head)) as fh:
        rec = _json.load(fh)
    assert rec["operation"] == "replace"  # CoW, not rowdelta
    assert not t._state()["deletes"]
    # the hot-key case still routes MoR under the same thresholds
    t.merge(
        spark, _batch(spark, [(3, "hot", 2)]), key="id", strategy="auto",
        mor_file_threshold=1, mor_key_threshold=100,
    )
    with open(t._version_file(t.versions()[-1])) as fh:
        rec = _json.load(fh)
    assert rec["operation"] == "rowdelta"


def test_delete_key_files_are_sorted_with_bounds(spark, tmp_path):
    """Delete-key files land sorted (tight per-file ranges) and the
    entry records num_keys + key_schema for scan-time gating."""
    t, df = _mk(spark, tmp_path, n=50, files=2)
    upd = df.where(F.col("id") % 2 == 0).select(
        "id", F.lit("e").alias("val"), F.lit(1).cast("long").alias("seq")
    )
    t.merge(spark, upd, key="id", strategy="mor")
    (entry,) = t._state()["deletes"]
    assert entry["num_keys"] == 25
    assert "key_schema" in entry
    assert entry["bounds"]["id"] == [0, 48]
    got = {r["id"] for r in t.read(spark).where("val = 'e'").collect()}
    assert got == {i for i in range(50) if i % 2 == 0}


def test_big_delete_keyset_applies_via_shuffle_join(
    spark, tmp_path, monkeypatch
):
    """Above the broadcast cap the pending-delta anti-join must become
    a shuffle join — a million-key delta can never ride an
    executor-memory broadcast (VERDICT r5 wrong #1)."""
    from crest_spark.lakehouse import table as table_mod
    from crest_spark.plans.checks import simple_plan

    t, df = _mk(spark, tmp_path, n=200, files=2)
    upd = df.select(
        "id", F.lit("big").alias("val"), F.lit(1).cast("long").alias("seq")
    )
    t.merge(spark, upd, key="id", strategy="mor")
    monkeypatch.setattr(table_mod, "_DELTA_BROADCAST_MAX_KEYS", 10)
    scan = t.read(spark)
    plan = simple_plan(scan)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    got = {r["val"] for r in scan.collect()}
    assert got == {"big"}
    # and under the default cap the same delta broadcasts (hot-key path)
    monkeypatch.setattr(table_mod, "_DELTA_BROADCAST_MAX_KEYS", 1_000_000)
    assert "BroadcastHashJoin" in simple_plan(t.read(spark))


# ----------------------------------------------------- hardening (ADVICE)


def test_empty_updates_batch_is_a_noop(spark, tmp_path):
    """ADVICE r5 low: an empty streaming micro-batch must not commit a
    bound-less delete entry (which degraded every later CoW to a
    full-table rewrite) — or any version at all."""
    t, _ = _mk(spark, tmp_path, n=10, files=1)
    empty = _batch(spark, []).where(F.lit(False))
    v0 = t.version()
    for strat in ("mor", "cow", "auto"):
        assert (
            t.merge(spark, empty, key="id", strategy=strat) == v0
        )
    assert t.version() == v0
    assert not t._state()["deletes"]


def test_mor_delta_survives_key_type_widening(spark, tmp_path):
    """ADVICE r5 low: a merge_schema append that widens the key column
    while deltas are pending must not break the scan — delete files are
    read with their commit-time schema and cast up."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, val string")
    t = _cat(tmp_path).get_or_create_table("t", df.schema)
    t.append(df)
    t.merge(
        spark,
        spark.createDataFrame([(2, "b2")], "id int, val string"),
        key="id",
        strategy="mor",
    )
    widened = spark.createDataFrame([(3_000_000_000, "c")], "id long, val string")
    t.append(widened, merge_schema=True)
    got = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert got == {1: "a", 2: "b2", 3_000_000_000: "c"}
    t.compact(spark)
    assert {r["id"]: r["val"] for r in t.read(spark).collect()} == got


# ------------------------- contested-key split regressions (fuzz-found)


def test_cow_merge_after_seq_delta_does_not_duplicate_winner(
    spark, tmp_path
):
    """Fuzz-found (r6): a sequence-aware delta's OWN data file is inside
    the entry's ranking scope, so a later copy-on-write merge must not
    carry it by reference while rewriting the other files holding the
    same key — the partial read would re-derive a second winner and the
    key would surface twice."""
    t, _ = _mk(spark, tmp_path, n=10, files=5)
    # seq delta on key 4: tombstone for key 0 + update landing key 4
    upd = spark.createDataFrame(
        [(0, "x", 0, True), (4, "w", 0, False)],
        "id int, val string, seq long, d boolean",
    )
    t.merge(
        spark, upd, key="id", sequence_col="seq",
        delete_col="d", strategy="mor",
    )
    # CoW merge touching ONLY key 0 — its key bounds are disjoint from
    # key 4, which is exactly what exposed the keep/touch split
    t.merge(spark, _batch(spark, [(0, "back", 0)]), key="id")
    rows = sorted(
        (r["id"], r["val"]) for r in t.read(spark).collect()
    )
    assert rows.count((4, "w")) == 1
    assert (4, "v4") not in rows  # superseded original did not resurrect
    assert (0, "back") in rows


def test_cow_delete_drop_branch_respects_seq_delta(spark, tmp_path):
    """Fuzz-audit companion: delete()'s metadata-only drop of a fully-
    matching file is unsound under a pending sequence-aware delta (the
    dropped rows rank against other files' rows). The winner row landed
    by the delta matches the delete range; the ORIGINAL superseded row
    must not resurrect once the winner's file is removed."""
    df = spark.createDataFrame(
        [(1, "old", 1)], "id int, val string, seq long"
    )
    t = _cat(tmp_path).get_or_create_table("t", df.schema)
    t.append(df)
    t.merge(
        spark,
        _batch(spark, [(1, "new", 9)]),
        key="id",
        sequence_col="seq",
        strategy="mor",
    )
    # range delete matching ONLY the delta's landed row (seq 9): the
    # key-1 row is gone entirely — the seq-1 original lost to seq-9
    # before the delete, and deleting the winner does not revive it
    t.delete(spark, {"seq": (5, None)})
    assert t.read(spark).count() == 0


def test_update_change_feed_postimages_match_committed_rows(spark, tmp_path):
    """update(change_feed=True) stages the feed from the SAME rowset it
    commits: a SET whose value is fixed per query (current_timestamp)
    evaluated once for the staged feed and again for the rewrite would
    stage postimages that differ from the live rows."""
    t, _ = _mk(spark, tmp_path, n=20, files=2)
    v0 = t.version()
    t.update(
        spark,
        {"id": (0, 4)},
        {"seq": "unix_micros(current_timestamp())"},
        change_feed=True,
    )
    ch = t.read_changes(spark, after=v0, cdf=True)
    post = sorted(
        (r["id"], r["val"], r["seq"])
        for r in ch.where(F.col("_change_type") == "update_postimage")
        .collect()
    )
    live = sorted(
        (r["id"], r["val"], r["seq"])
        for r in t.read(spark).where(F.col("id") <= 4).collect()
    )
    assert len(post) == 5
    assert post == live
    pre = ch.where(F.col("_change_type") == "update_preimage")
    assert sorted(r["seq"] for r in pre.collect()) == [0] * 5


def test_stage_changes_multiset_multiplicity(spark, tmp_path):
    """_stage_changes' diff is a MULTISET diff (r14: one signed-count
    aggregate replacing the exceptAll pair): a row present 3x in old
    and 1x in new must stage exactly 2 removal rows, and multiplicity
    INCREASES must stage the added copies — the replication path the
    signed-count rewrite implements with explode(sequence)."""
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "a"), (2, "b"), (3, "c")],
        "id int, val string",
    )
    t = _cat(tmp_path).get_or_create_table("t", df.schema)
    old = df
    new = spark.createDataFrame(
        # key 1: multiplicity 3 -> 1 (2 preimages, 1 postimage pairs
        # via key presence); key 2: value change; key 3: dropped; key
        # 4: inserted twice (multiplicity 2 insert)
        [(1, "a"), (2, "B"), (4, "d"), (4, "d")],
        "id int, val string",
    )
    files = t._stage_changes(old, new, ["id"])
    got = sorted(
        (r["id"], r["val"], r["_change_type"])
        for f in files
        for r in spark.read.parquet(f).collect()
    )
    assert got == [
        # key 1 shed 2 copies with NO added row — no postimage rows
        # for the key, so the removals classify as deletes (identical
        # to the old exceptAll pair's classification)
        (1, "a", "delete"),
        (1, "a", "delete"),
        (2, "B", "update_postimage"),
        (2, "b", "update_preimage"),
        (3, "c", "delete"),
        (4, "d", "insert"),
        (4, "d", "insert"),
    ]


def test_stage_changes_survives_sentinel_column_names(spark, tmp_path):
    """A user table whose columns collide with the diff's helper names
    (__d/__net/__i) must still stage a correct feed: withColumn on a
    colliding name would silently REPLACE the user column and corrupt
    the grouping (r15 guard: helper names uniquified against the
    schema)."""
    df = spark.createDataFrame(
        [(1, 10, 20, 30), (2, 11, 21, 31)],
        "id int, __d int, __net int, __i int",
    )
    t = _cat(tmp_path).get_or_create_table("t_sentinel", df.schema)
    new = spark.createDataFrame(
        [(1, 10, 20, 30), (2, 99, 21, 31)],
        "id int, __d int, __net int, __i int",
    )
    files = t._stage_changes(df, new, ["id"])
    got = sorted(
        (r["id"], r["__d"], r["__net"], r["__i"], r["_change_type"])
        for f in files
        for r in spark.read.parquet(f).collect()
    )
    assert got == [
        (2, 11, 21, 31, "update_preimage"),
        (2, 99, 21, 31, "update_postimage"),
    ]
