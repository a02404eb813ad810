"""Write-audit-publish (staged commits): batch-level audit gating.

A staged append is invisible to every read surface until published;
discard rejects it permanently. Composes with time travel, rollback,
the change feed, snapshot expiry, checkpoints, and the ingestion
service (``SourceSpec.stage``)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from crest_spark.lakehouse import LakehouseCatalog
from crest_spark.sources.tables import load_table, table_path


def _cat(tmp_path):
    return LakehouseCatalog(str(tmp_path / "wh"))


def _nation(spark, sf_dir):
    return load_table(spark, sf_dir, "nation")


def test_staged_invisible_until_publish(spark, sf_dir, tmp_path):
    src = _nation(spark, sf_dir)
    base = src.where(F.col("n_nationkey") < 10)
    extra = src.where(F.col("n_nationkey") >= 10)
    t = _cat(tmp_path).get_or_create_table("nation", src.schema)
    t.append(base)
    sv = t.append(extra, stage=True)

    # invisible to read / row_count / scan / schema-era state
    assert t.read(spark).count() == base.count()
    assert t.row_count() == base.count()
    assert t.scan(spark, {"n_nationkey": (0, 100)}).count() == base.count()
    # but pending and auditable
    assert list(t.pending_staged()) == [sv]
    assert t.read_staged(spark).count() == extra.count()

    pv = t.publish_staged()
    assert pv is not None
    assert t.read(spark).count() == src.count()
    assert t.row_count() == src.count()
    # time travel: the pre-publish snapshot still hides the staged rows
    assert t.read(spark, version=sv).count() == base.count()
    assert t.read(spark, version=pv).count() == src.count()
    # publishing again is a no-op
    assert t.publish_staged() is None


def test_discard_never_becomes_visible(spark, sf_dir, tmp_path):
    src = _nation(spark, sf_dir)
    t = _cat(tmp_path).get_or_create_table("nation", src.schema)
    t.append(src.where(F.col("n_nationkey") < 10))
    sv = t.append(src.where(F.col("n_nationkey") >= 10), stage=True)
    t.discard_staged([sv])
    assert t.pending_staged() == {}
    assert t.read(spark).count() == 10
    assert t.publish_staged() is None
    with pytest.raises(ValueError, match="not pending"):
        t.publish_staged([sv])


def test_selective_publish_and_validation(spark, sf_dir, tmp_path):
    src = _nation(spark, sf_dir)
    t = _cat(tmp_path).get_or_create_table("nation", src.schema)
    s1 = t.append(src.where(F.col("n_nationkey") < 5), stage=True)
    s2 = t.append(
        src.where(F.col("n_nationkey").between(5, 9)), stage=True
    )
    # audit a single staged commit
    assert t.read_staged(spark, s1).count() == 5
    t.publish_staged([s2])
    assert t.read(spark).count() == 5
    assert (
        t.read(spark).agg(F.min("n_nationkey")).first()[0] == 5
    )  # s2's rows, not s1's
    assert list(t.pending_staged()) == [s1]
    with pytest.raises(ValueError, match="not pending"):
        t.discard_staged([s2])
    t.publish_staged([s1])
    assert t.read(spark).count() == 10


def test_staged_batch_replay_is_noop(spark, sf_dir, tmp_path):
    """Exactly-once: a replayed (writer, batch) staged commit is a no-op
    BEFORE publication, so a streaming retry can't double-stage."""
    src = _nation(spark, sf_dir)
    t = _cat(tmp_path).get_or_create_table("nation", src.schema)
    assert t.append(src, writer_id="w", batch_id=7, stage=True) is not None
    assert t.append(src, writer_id="w", batch_id=7, stage=True) is None
    assert len(t.pending_staged()) == 1
    t.publish_staged()
    assert t.read(spark).count() == src.count()
    # ... and after publication too
    assert t.append(src, writer_id="w", batch_id=7, stage=True) is None


def test_change_feed_reports_inserts_at_publish_version(
    spark, sf_dir, tmp_path
):
    src = _nation(spark, sf_dir)
    t = _cat(tmp_path).get_or_create_table("nation", src.schema)
    v0 = t.append(src.where(F.col("n_nationkey") < 10))
    sv = t.append(src.where(F.col("n_nationkey") >= 10), stage=True)
    # delta after the stage, before publish: empty
    assert t.read_changes(spark, after=v0).count() == 0
    pv = t.publish_staged()
    inc = t.read_changes(spark, after=v0, cdf=True)
    rows = inc.collect()
    assert len(rows) == src.where(F.col("n_nationkey") >= 10).count()
    assert all(r["_change_type"] == "insert" for r in rows)
    assert all(r["_commit_version"] == pv for r in rows)
    assert sv not in {r["_commit_version"] for r in rows}


def test_rollback_restores_pending_staged(spark, sf_dir, tmp_path):
    src = _nation(spark, sf_dir)
    t = _cat(tmp_path).get_or_create_table("nation", src.schema)
    t.append(src.where(F.col("n_nationkey") < 10))
    sv = t.append(src.where(F.col("n_nationkey") >= 10), stage=True)
    t.publish_staged()
    assert t.read(spark).count() == src.count()
    # roll back to the stage point: the publish is undone AND the staged
    # commit is pending again — publishable a second time
    t.rollback(sv)
    assert t.read(spark).count() == 10
    assert list(t.pending_staged()) == [sv]
    t.publish_staged()
    assert t.read(spark).count() == src.count()


def test_expire_clamps_at_pending_staged(spark, sf_dir, tmp_path):
    src = _nation(spark, sf_dir)
    t = _cat(tmp_path).get_or_create_table("nation", src.schema)
    sv = t.append(src.where(F.col("n_nationkey") < 5), stage=True)
    for lo in (5, 10, 15, 20):
        t.append(src.where(F.col("n_nationkey").between(lo, lo + 4)))
    # pending staged commit is the oldest version: nothing may expire
    assert t.expire_snapshots(keep_last=1) == []
    assert list(t.pending_staged()) == [sv]
    t.publish_staged()
    assert t.read(spark).count() == src.count()
    # resolved: expiry may proceed and the table still reads correctly
    expired = t.expire_snapshots(keep_last=1)
    assert expired
    assert t.read(spark).count() == src.count()


def test_expire_then_vacuum_collects_discarded_files(
    spark, sf_dir, tmp_path
):
    import os

    src = _nation(spark, sf_dir)
    t = _cat(tmp_path).get_or_create_table("nation", src.schema)
    t.append(src.where(F.col("n_nationkey") < 10))
    sv = t.append(src.where(F.col("n_nationkey") >= 10), stage=True)
    staged_files = t.pending_staged()[sv]["files"]
    t.discard_staged()
    # pre-expiry: the historical staged record still references the files
    # (vacuum may sweep _SUCCESS/.crc sidecars, never the parquet)
    assert [p for p in t.vacuum(older_than_s=0.0) if p.endswith(".parquet")] == []
    assert all(os.path.exists(f) for f in staged_files)
    t.append(src.limit(1))  # advance head so expiry has a prefix to drop
    t.expire_snapshots(keep_last=1)
    removed = set(t.vacuum(older_than_s=0.0))
    assert {os.path.abspath(f) for f in staged_files} <= removed
    assert t.read(spark).count() == 10 + 1


def test_staged_survives_checkpoint_roundtrip(spark, sf_dir, tmp_path):
    """The pending-staged map rides through state checkpoints."""
    src = _nation(spark, sf_dir)
    cat = LakehouseCatalog(str(tmp_path / "wh"))
    t = cat.get_or_create_table("nation", src.schema)
    t.checkpoint_interval = 1  # checkpoint every commit
    t.append(src.where(F.col("n_nationkey") < 10))
    sv = t.append(src.where(F.col("n_nationkey") >= 10), stage=True)
    t.append(src.limit(1))  # forces a checkpoint AFTER the stage
    assert list(t.pending_staged()) == [sv]
    assert t.read(spark).count() == 11
    t.publish_staged()
    assert t.read(spark).count() == src.count() + 1


def test_staged_merge_schema_evolves_at_publish(spark, sf_dir, tmp_path):
    """A staged merge_schema append keeps the live schema unchanged until
    publish, then evolves it; pre-publish readers never see the column."""
    src = _nation(spark, sf_dir)
    t = _cat(tmp_path).get_or_create_table("nation", src.schema)
    t.append(src.where(F.col("n_nationkey") < 10))
    widened = src.where(F.col("n_nationkey") >= 10).withColumn(
        "grade", F.lit("A")
    )
    t.append(widened, stage=True, merge_schema=True)
    assert "grade" not in [f.name for f in t.schema().fields]
    assert "grade" in t.read_staged(spark).columns
    t.publish_staged()
    out = t.read(spark)
    assert "grade" in out.columns
    # old files null-fill the new column; staged files carry it
    assert out.where(F.col("grade").isNull()).count() == 10
    assert out.where(F.col("grade") == "A").count() == src.count() - 10


def test_ingest_stage_mode_wap_flow(spark, sf_dir, tmp_path):
    """Config-driven WAP: a staged ingestion source commits every batch
    invisible; publish makes the whole drained backlog live at once."""
    from crest_spark.streaming.ingest import (
        IngestConfig,
        IngestionService,
        SourceSpec,
    )
    from crest_spark.streaming.replay import stage_slices

    staging, _ = stage_slices(
        spark, table_path(sf_dir, "region"), n_slices=2
    )
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        sources=[
            SourceSpec(
                name="region", path=staging, files_per_trigger=1, stage=True
            )
        ],
    )
    svc = IngestionService(spark, cfg)
    svc.run_once()
    t = svc.catalog.table("region")
    assert t.read(spark).count() == 0
    assert len(t.pending_staged()) == 2  # one staged commit per batch
    t.publish_staged()
    assert (
        t.read(spark).count()
        == load_table(spark, sf_dir, "region").count()
    )


def test_config_parses_stage_and_rejects_staged_upsert(tmp_path):
    from crest_spark.config import load_config

    cfg_path = tmp_path / "cfg.yaml"
    cfg_path.write_text(
        """
warehouse: data/wh
checkpoints: data/ckpt
sources:
  - name: region
    path: /staging/region
    stage: true
"""
    )
    assert load_config(str(cfg_path)).ingest.sources[0].stage is True

    cfg_path.write_text(
        """
warehouse: data/wh
checkpoints: data/ckpt
sources:
  - name: region
    path: /staging/region
    stage: true
    mode: upsert
    key: r_regionkey
    sequenceCol: r_regionkey
"""
    )
    with pytest.raises(ValueError, match="stage"):
        load_config(str(cfg_path))


def test_read_staged_unknown_version_raises_value_error(
    spark, sf_dir, tmp_path
):
    """ADVICE r6 (low): read_staged(version=v) raised a bare KeyError
    for a non-pending version; it now matches publish_staged's
    descriptive ValueError."""
    from crest_spark.lakehouse import LakehouseCatalog
    from crest_spark.sources.tables import load_table

    src = load_table(spark, sf_dir, "region")
    cat = LakehouseCatalog(str(tmp_path / "wh"))
    t = cat.get_or_create_table("region", src.schema)
    v = t.append(src, stage=True)
    with pytest.raises(ValueError, match="not a pending staged commit"):
        t.read_staged(spark, v + 999)
    t.publish_staged([v])
    with pytest.raises(ValueError, match="not a pending staged commit"):
        t.read_staged(spark, v)  # already published


def test_read_changes_from_before_expired_staged_history_raises(
    spark, tmp_path
):
    """Discarded staged rows never enter the delta and published ones
    arrive once, at the publish commit. Once expiry folds that history
    into its boundary record, a range starting below the boundary has
    no file delta and raises instead of replaying the merged prefix."""
    def rows(ks):
        return spark.createDataFrame([(k,) for k in ks], "k long")

    t = _cat(tmp_path).get_or_create_table("k", rows([0]).schema)

    def changes(after):
        return sorted(
            r["k"] for r in t.read_changes(spark, after=after).collect()
        )

    v0 = t.append(rows([0]))
    t.discard_staged([t.append(rows([1, 2, 3]), stage=True)])
    t.publish_staged([t.append(rows([4, 5]), stage=True)])
    assert changes(v0) == [4, 5]
    t.append(rows([6]))
    t.append(rows([7]))
    assert t.expire_snapshots(keep_last=2)
    oldest = t.versions()[0]
    with pytest.raises(ValueError, match="expired"):
        t.read_changes(spark, after=v0)
    assert changes(oldest) == [7]
