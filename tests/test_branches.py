"""Named branch refs (Iceberg branch semantics): the multi-commit
generalization of write-audit-publish. An append-only branch forks from
a base snapshot, accumulates commits invisible to main, is audited via
``read_branch``, and lands atomically with ``fast_forward`` (or is
abandoned with ``drop_branch``). The backfill / ingestion-experiment
shape: run a risky pipeline against a branch for days, validate, then
promote in one metadata-only commit.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from crest_spark.lakehouse import LakehouseCatalog
from crest_spark.sources.tables import load_table


@pytest.fixture()
def cat(tmp_path):
    return LakehouseCatalog(str(tmp_path / "wh"))


def _mk(spark, cat, name="t", n=100):
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(n)], "id int, val string"
    )
    t = cat.get_or_create_table(name, df.schema)
    t.append(df)
    return t, df


def test_branch_lifecycle_invisible_until_fast_forward(spark, cat):
    t, df = _mk(spark, cat)
    base_v = t.version()
    t.create_branch("backfill")
    assert "backfill" in t.branches()
    b1 = spark.createDataFrame([(100, "b100")], "id int, val string")
    b2 = spark.createDataFrame([(101, "b101")], "id int, val string")
    t.append(b1, branch="backfill")
    t.append(b2, branch="backfill")
    # invisible to main: read, count, time travel, changes
    assert t.read(spark).count() == 100
    assert t.row_count() == 100
    assert t.read_changes(spark, after=base_v).count() == 0
    # visible on the branch: base + both commits
    got = {r["id"] for r in t.read_branch(spark, "backfill").collect()}
    assert got == set(range(100)) | {100, 101}
    # concurrent main append while the branch lives
    t.append(spark.createDataFrame([(500, "m")], "id int, val string"))
    pre_ff = t.version()
    v = t.fast_forward("backfill")
    assert v is not None and v > pre_ff
    assert "backfill" not in t.branches()
    assert t.read(spark).count() == 103
    assert t.row_count() == 103
    # the branch rows surface as inserts AT landing time
    ch = t.read_changes(spark, after=pre_ff)
    assert {r["id"] for r in ch.collect()} == {100, 101}
    # and time travel before the landing still hides them
    assert t.read(spark, version=pre_ff).count() == 101


def test_branch_schema_evolves_only_at_fast_forward(spark, cat):
    t, df = _mk(spark, cat)
    t.create_branch("exp")
    wide = spark.createDataFrame(
        [(200, "w", 1.5)], "id int, val string, score double"
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(wide, branch="exp")
    t.append(wide, branch="exp", merge_schema=True)
    # branch schema widened; main schema untouched
    assert "score" in [f.name for f in t.branch_schema("exp").fields]
    assert "score" not in [f.name for f in t.schema().fields]
    rows = t.read_branch(spark, "exp")
    assert rows.where(F.col("score").isNull()).count() == 100
    t.fast_forward("exp")
    assert "score" in [f.name for f in t.schema().fields]
    assert t.read(spark).where(F.col("score") == 1.5).count() == 1


def test_drop_branch_discards_and_expire_vacuum_reclaims(spark, cat):
    t, _ = _mk(spark, cat)
    t.create_branch("dead")
    t.append(
        spark.createDataFrame([(300, "x")], "id int, val string"),
        branch="dead",
    )
    entries = t.branches()["dead"]["entries"]
    branch_files = [f for e in entries.values() for f in e["files"]]
    assert branch_files
    # a live branch clamps the expiry horizon at its base: nothing
    # at-or-after the base expires, and the branch stays readable
    base = t.branches()["dead"]["base"]
    t.append(spark.createDataFrame([(1, "m")], "id int, val string"))
    expired = t.expire_snapshots(keep_last=1)
    assert all(v < base for v in expired)
    assert t.read_branch(spark, "dead").count() == 101
    t.drop_branch("dead")
    assert "dead" not in t.branches()
    assert t.read(spark).count() == 101
    # after the drop, expiry proceeds and vacuum reclaims the files
    t.append(spark.createDataFrame([(2, "m2")], "id int, val string"))
    assert t.expire_snapshots(keep_last=1)
    removed = t.vacuum(older_than_s=0.0, now=time.time() + 10)
    assert set(branch_files) <= {f for f in removed}
    assert t.read(spark).count() == 102


def test_rollback_restores_branch_state(spark, cat):
    t, _ = _mk(spark, cat)
    t.create_branch("b")
    t.append(
        spark.createDataFrame([(400, "x")], "id int, val string"),
        branch="b",
    )
    with_branch = t.version()
    t.fast_forward("b")
    assert t.read(spark).count() == 101
    t.rollback(with_branch)
    # the fast-forward is undone AND the branch is pending again
    assert t.read(spark).count() == 100
    assert "b" in t.branches()
    assert t.read_branch(spark, "b").count() == 101
    v = t.fast_forward("b")
    assert v is not None and t.read(spark).count() == 101


def test_branch_append_idempotent_batch_ids(spark, cat):
    t, _ = _mk(spark, cat)
    t.create_branch("ing")
    b = spark.createDataFrame([(600, "x")], "id int, val string")
    assert t.append(b, branch="ing", writer_id="w", batch_id=7) is not None
    assert t.append(b, branch="ing", writer_id="w", batch_id=7) is None
    assert t.read_branch(spark, "ing").count() == 101


def test_branch_survives_checkpoint_roundtrip(spark, cat):
    t, _ = _mk(spark, cat, n=10)
    t.checkpoint_interval = 2
    t.create_branch("ck")
    for i in range(4):
        t.append(
            spark.createDataFrame([(700 + i, "x")], "id int, val string"),
            branch="ck",
        )
    # force state reload through the newest checkpoint
    assert t.read_branch(spark, "ck").count() == 14
    assert t.read(spark).count() == 10
    t.fast_forward("ck")
    assert t.read(spark).count() == 14


def test_branch_errors(spark, cat):
    t, _ = _mk(spark, cat, n=5)
    with pytest.raises(ValueError, match="no branch"):
        t.read_branch(spark, "ghost")
    with pytest.raises(ValueError, match="no branch"):
        t.fast_forward("ghost")
    with pytest.raises(ValueError, match="no branch"):
        t.append(
            spark.createDataFrame([(1, "x")], "id int, val string"),
            branch="ghost",
        )
    t.create_branch("b")
    with pytest.raises(ValueError, match="already exists"):
        t.create_branch("b")
    with pytest.raises(ValueError, match="mutually exclusive"):
        t.append(
            spark.createDataFrame([(1, "x")], "id int, val string"),
            branch="b",
            stage=True,
        )


def test_branch_base_isolated_from_later_main_merges(spark, sf_dir, cat):
    """A MoR merge on MAIN after the fork must not leak into the branch
    view (the branch sees its base snapshot), and branch files must
    never fall in scope of main's pending deletes after landing."""
    t, df = _mk(spark, cat)
    t.create_branch("iso")
    t.append(
        spark.createDataFrame([(900, "b")], "id int, val string"),
        branch="iso",
    )
    # main moves on: MoR upsert of id=3 (pending delta)
    t.merge(
        spark,
        spark.createDataFrame([(3, "UPD")], "id int, val string"),
        key="id",
        strategy="mor",
    )
    assert t._state()["deletes"]
    # branch view: base snapshot (pre-merge) + branch rows
    rows = {r["id"]: r["val"] for r in t.read_branch(spark, "iso").collect()}
    assert rows[3] == "v3" and rows[900] == "b"
    # landing: branch rows appear; main's merge remains applied
    t.fast_forward("iso")
    rows = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert rows[3] == "UPD" and rows[900] == "b" and len(rows) == 101


def test_read_changes_from_before_expired_branch_history_raises(spark, cat):
    """Branch rows arrive once, at the fast-forward commit. After expiry
    folds the fork and the landing into the boundary record, a range
    starting below the boundary raises instead of replaying them."""
    t, _ = _mk(spark, cat, n=1)
    v0 = t.version()

    def changes(after):
        return sorted(
            r["id"] for r in t.read_changes(spark, after=after).collect()
        )

    t.create_branch("exp")
    t.append(
        spark.createDataFrame([(6, "b")], "id int, val string"), branch="exp"
    )
    t.fast_forward("exp")
    assert changes(v0) == [6]
    t.append(spark.createDataFrame([(7, "m")], "id int, val string"))
    t.append(spark.createDataFrame([(8, "m")], "id int, val string"))
    assert t.expire_snapshots(keep_last=2)
    oldest = t.versions()[0]
    with pytest.raises(ValueError, match="expired"):
        t.read_changes(spark, after=v0)
    assert changes(oldest) == [8]


def test_read_branch_resolves_pre_rename_base_files(spark, cat):
    """Base files written before a rename hold the column under its old
    physical name: the branch read resolves them by vintage, like
    ``read``, instead of reading the renamed column as NULL."""
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id int, a string")
    t = cat.get_or_create_table("t", df.schema)
    t.append(df)
    t.rename_column("a", "b")
    t.create_branch("x")
    t.append(
        spark.createDataFrame([(3, "z")], "id int, b string"), branch="x"
    )
    got = sorted(tuple(r) for r in t.read_branch(spark, "x").collect())
    assert got == [(1, "x"), (2, "y"), (3, "z")]
