"""Streaming semantics tests: S1-S5 from SURVEY §2.3.

Stream-vs-batch parity over a deterministic file replay of ``events``,
watermark-driven late-data handling, sliding/session windows, stateful
dedup, and the kill-and-restart exactly-once ingestion test (the upgrade
over the reference's at-least-once polling,
``/root/reference/pkg/ingestor/ingestor.go:131-152``)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from crest_spark.functions.stable import sum4
from crest_spark.sources.tables import load_table, table_path
from crest_spark.streaming.ingest import IngestConfig, IngestionService, SourceSpec
from crest_spark.streaming.replay import read_stream, run_to_memory, stage_slices


def _events_stream(spark, sf_dir, n_slices=6):
    staging, schema = stage_slices(
        spark, table_path(sf_dir, "events"), n_slices=n_slices, order_col="event_id"
    )
    return read_stream(spark, staging, schema)


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_s2_sliding_window_parity(spark, sf_dir):
    """Sliding window (10m window, 5m slide): stream == batch."""
    win = F.window("ts", "10 minutes", "5 minutes").alias("w")
    agg_cols = [F.count("*").alias("n"), F.expr(sum4("value")).alias("sv")]

    stream = _events_stream(spark, sf_dir)
    s = run_to_memory(
        stream.withWatermark("ts", "10 minutes").groupBy(win, "event_type").agg(*agg_cols),
        "s2_sliding",
    ).select(F.col("w.start").alias("ws"), "event_type", "n", "sv")

    batch = load_table(spark, sf_dir, "events")
    b = batch.groupBy(win, "event_type").agg(*agg_cols).select(
        F.col("w.start").alias("ws"), "event_type", "n", "sv"
    )
    assert _rows(s, "ws", "event_type", "n", "sv") == _rows(
        b, "ws", "event_type", "n", "sv"
    )


def test_s3_session_window_parity(spark, sf_dir):
    """Session window (30m gap) per user: stream == batch."""
    # No watermark: with one, closed sessions are evicted from state and
    # disappear from the complete-mode sink; unbounded state is fine for a
    # bounded replay (append-mode + watermark variant is test_s1).
    win = F.session_window("ts", "30 minutes").alias("w")
    stream = _events_stream(spark, sf_dir)
    s = run_to_memory(
        stream.groupBy(win, "user_id").agg(F.count("*").alias("n")),
        "s3_session",
    ).select(F.col("w.start").alias("ws"), "user_id", "n")
    batch = load_table(spark, sf_dir, "events")
    b = batch.groupBy(win, "user_id").agg(F.count("*").alias("n")).select(
        F.col("w.start").alias("ws"), "user_id", "n"
    )
    assert _rows(s, "ws", "user_id", "n") == _rows(b, "ws", "user_id", "n")


def test_s1_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode tumbling window with a watermark: a row arriving after
    the watermark passed its window is dropped (late-data semantics)."""
    import time as _time
    from datetime import datetime as _dt

    src = str(tmp_path / "late_src")
    schema = "ts TIMESTAMP, v LONG"

    def write_slice(name, rows):
        typed = [(_dt.fromisoformat(ts), v) for ts, v in rows]
        spark.createDataFrame(typed, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    # batch 1: events up to 10:59 -> watermark will advance past the 10:00
    # window (delay 5m) once max ts is 10:59
    write_slice("b1", [("2024-01-01 10:00:30", 1), ("2024-01-01 10:59:00", 1)])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("s1_late")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline:
            if spark.table("s1_late").count() >= 1:
                break
            _time.sleep(1)
        # late row into the long-closed 10:00 window
        write_slice("b2", [("2024-01-01 10:01:00", 99)])
        q.processAllAvailable()
        out = spark.table("s1_late").collect()
    finally:
        q.stop()
    emitted = {(str(r["w"]["start"]), r["n"]) for r in out}
    # the 10:00 window was emitted with exactly 1 row; the late row never
    # re-emitted or inflated it
    assert ("2024-01-01 10:00:00", 1) in emitted
    assert all(n == 1 for _, n in emitted)


def test_s4_stateful_dedup_within_watermark(spark, sf_dir):
    """dropDuplicatesWithinWatermark removes cross-batch duplicates."""
    staging, schema = stage_slices(
        spark, table_path(sf_dir, "events"), n_slices=3, order_col="event_id", copies=2
    )
    stream = read_stream(spark, staging, schema, files_per_trigger=1)
    # Watermark wider than the whole event-time span: no replayed copy can
    # ever be dropped as "late", so every duplicate is seen and removed by
    # the dedup state (bounded-state behavior is covered by test_s1).
    deduped = (
        stream.withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("s4_ddw")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_unique = load_table(spark, sf_dir, "events").count()
    got = spark.table("s4_ddw").count()
    assert got == n_unique


def test_s5_restart_exactly_once(spark, sf_dir, tmp_path):
    """Kill-and-restart from checkpoint: lakehouse row count equals the
    batch count — no dups, no loss."""
    staging, _ = stage_slices(
        spark, table_path(sf_dir, "events"), n_slices=6, order_col="event_id"
    )
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        sources=[SourceSpec(name="events", path=staging, files_per_trigger=1)],
    )

    # phase 1: process a couple of batches then hard-stop mid-stream
    svc = IngestionService(spark, cfg)
    svc.start()
    import time as _time

    deadline = _time.time() + 120
    t = svc.catalog.table("events")
    while _time.time() < deadline:
        if t.exists() and len(t.versions()) >= 2:
            break
        _time.sleep(0.5)
    svc.stop()  # "kill"

    # phase 2: restart from the same checkpoint, drain the rest
    svc2 = IngestionService(spark, cfg)
    svc2.run_once()

    expected = load_table(spark, sf_dir, "events").count()
    got = svc2.catalog.table("events").read(spark).count()
    assert got == expected  # exactly-once: no dups from the restart overlap


def test_ingest_maintains_minhash_index(spark, sf_dir, tmp_path):
    """VERDICT r10 next-round #6: continuous ingestion maintains the
    near-dup signature index incrementally — after draining the
    documents table in 3 arrival slices through IngestionService with a
    minhash index spec, (a) the index holds exactly n_docs x LSH_BANDS
    band rows (every doc signed once, never re-signed), and (b) the
    accumulated <idx>__pairs table equals the one-shot batch miner's
    verified pairs on the same corpus — the crest-parity end state:
    source -> Iceberg -> maintained index, exactly-once."""
    from crest_spark.operators.dedup import LSH_BANDS
    from crest_spark.registry import load_all

    staging, _ = stage_slices(
        spark, table_path(sf_dir, "documents"), n_slices=3,
        order_col="doc_id",
    )
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        sources=[
            SourceSpec(
                name="docs",
                path=staging,
                files_per_trigger=1,
                indexes=[
                    {
                        "kind": "minhash",
                        "name": "docs_mh",
                        "id_col": "doc_id",
                        "text_col": "text",
                        "mine_pairs": True,
                    }
                ],
            )
        ],
    )
    svc = IngestionService(spark, cfg)
    svc.run_once()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert svc.catalog.table("docs").read(spark).count() == n_docs
    # (a) signed exactly once
    idx = svc.catalog.table("docs_mh")
    assert idx.read(spark).count() == n_docs * LSH_BANDS
    # (b) accumulated pairs == the one-shot batch miner on the corpus
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in svc.catalog.table("docs_mh__pairs").read(spark).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in load_all()["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_ingest_maintains_ivf_index(spark, sf_dir, tmp_path):
    """IVF index spec: the first arrival builds the index, later
    arrivals ivf_add only their own vectors; after draining, every
    ingested vector is present exactly once and probes work."""
    from crest_spark.operators.vector_index import (
        ivf_index_search,
        load_ivf_centroids,
    )

    staging, _ = stage_slices(
        spark, table_path(sf_dir, "embeddings"), n_slices=3,
        order_col="vec_id",
    )
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        sources=[
            SourceSpec(
                name="emb",
                path=staging,
                files_per_trigger=1,
                indexes=[{"kind": "ivf", "name": "emb_ivf"}],
            )
        ],
    )
    svc = IngestionService(spark, cfg)
    svc.run_once()
    n = load_table(spark, sf_dir, "embeddings").count()
    t = svc.catalog.table("emb_ivf")
    assert t.read(spark).count() == n
    assert t.read(spark).select("vec_id").distinct().count() == n
    load_ivf_centroids(t)  # metadata present
    em = svc.catalog.table("emb").read(spark)
    queries = em.where(F.col("vec_id") < 2)
    got = ivf_index_search(spark, t, queries, k=3)
    assert got.count() == 6


def test_ingest_maintains_ivfpq_index(spark, sf_dir, tmp_path):
    """ivfpq index spec: first arrival builds the codes-only composite
    index, later arrivals encode only their own vectors against the
    frozen codebooks — every ingested vector lands exactly once."""
    from crest_spark.operators.vector_index import load_ivfpq_meta

    staging, _ = stage_slices(
        spark, table_path(sf_dir, "embeddings"), n_slices=2,
        order_col="vec_id",
    )
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        sources=[
            SourceSpec(
                name="emb",
                path=staging,
                files_per_trigger=1,
                indexes=[{"kind": "ivfpq", "name": "emb_pq"}],
            )
        ],
    )
    IngestionService(spark, cfg).run_once()
    from crest_spark.lakehouse import LakehouseCatalog

    cat = LakehouseCatalog(str(tmp_path / "wh"))
    t = cat.table("emb_pq")
    n = load_table(spark, sf_dir, "embeddings").count()
    assert t.read(spark).count() == n
    assert t.read(spark).select("vec_id").distinct().count() == n
    assert "embedding" not in [f.name for f in t.schema().fields]
    load_ivfpq_meta(t)  # centroids + codebooks present


def test_ingest_index_first_batch_replay_idempotent(spark, sf_dir, tmp_path):
    """Code-review r11 + ADVICE r11 #2: foreachBatch is at-least-once —
    a replayed first micro-batch must not take the add path and
    double-add its vectors. The build now stamps its (writer, batch)
    idempotence record ON the overwrite commit itself (atomic with the
    build — no marker-append crash window), so the replay is a no-op;
    a replayed LATER batch is likewise a no-op through the add's own
    (writer, batch) protocol. Also covers the tiny-first-batch clamp
    (10 vectors must build a 10-cell index, not crash on
    choice(10, 16))."""
    em = load_table(spark, sf_dir, "embeddings")
    tiny = em.limit(10)
    rest = em.subtract(tiny)
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        sources=[
            SourceSpec(
                name="emb",
                path=str(tmp_path / "unused"),
                indexes=[{"kind": "ivf", "name": "riv"}],
            )
        ],
    )
    svc = IngestionService(spark, cfg)
    sink = svc._sink(cfg.sources[0])
    sink(tiny, 0)
    t = svc.catalog.table("riv")
    assert t.read(spark).count() == 10
    sink(tiny, 0)  # replayed FIRST batch (crash before offset commit)
    assert t.read(spark).count() == 10
    sink(rest, 1)
    n = em.count()
    assert t.read(spark).count() == n
    sink(rest, 1)  # replayed add batch
    assert t.read(spark).count() == n
    assert t.read(spark).select("vec_id").distinct().count() == n


def test_ingest_indexes_reject_staged_modes(spark, tmp_path):
    """Code-review r11: maintained indexes require every batch to land
    LIVE on main — stage/branch/stage-diversion would silently diverge
    the index from the table (no publish-time maintenance hook), so the
    combination is a config error at sink construction."""
    import pytest

    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
    )
    svc = IngestionService(spark, cfg)
    for bad in (
        {"stage": True},
        {"branch": "exp"},
        {
            "expect_batch": {"nonempty": "COUNT(*) > 0"},
            "on_batch_violation": "stage",
        },
        {"mode": "upsert", "key": "doc_id", "sequence_col": "doc_id"},
    ):
        src = SourceSpec(
            name="d",
            path=str(tmp_path / "x"),
            indexes=[{"kind": "minhash"}],
            **bad,
        )
        with pytest.raises(ValueError, match="indexes are incompatible"):
            svc._sink(src)


@pytest.mark.parametrize(
    "typo, match",
    [
        ({"on_violation": "quarantien"}, "onViolation"),
        ({"on_batch_violation": "skpi"}, "onBatchViolation"),
        ({"mode": "upsrt"}, "unknown mode"),
        ({"mode": "upsert", "sequence_col": "event_id"}, "requires 'key'"),
    ],
)
def test_sink_rejects_programmatic_spec_typos(spark, tmp_path, typo, match):
    """A programmatic SourceSpec goes through the same source checks as
    YAML when its sink is built: a misspelled policy would otherwise
    drop violating rows, hide a broken batch or append instead of
    upserting, and an upsert without a key would fail only on its
    first batch."""
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"), checkpoint_root=str(tmp_path / "ck")
    )
    svc = IngestionService(spark, cfg)
    src = SourceSpec(name="events", path=str(tmp_path / "x"), **typo)
    with pytest.raises(ValueError, match=match):
        svc._sink(src)


def test_sink_rejects_unknown_index_kind_before_any_commit(spark, tmp_path):
    """An unknown index kind is a config error at sink construction, so
    no batch's main append commits before the index step raises (which
    every replay of that batch would repeat)."""
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"), checkpoint_root=str(tmp_path / "ck")
    )
    svc = IngestionService(spark, cfg)
    src = SourceSpec(
        name="emb", path=str(tmp_path / "x"), indexes=[{"kind": "hnsw"}]
    )
    with pytest.raises(ValueError, match="unknown index kind 'hnsw'"):
        svc._sink(src)
    assert not svc.catalog.table("emb").exists()


def test_ingest_auto_create_and_metrics(spark, sf_dir, tmp_path):
    """Auto-create DDL from first batch + metrics listener output."""
    from crest_spark.streaming import metrics as m

    listener = m.attach(spark, str(tmp_path / "metrics.jsonl"))
    try:
        staging, _ = stage_slices(
            spark, table_path(sf_dir, "region"), n_slices=2
        )
        cfg = IngestConfig(
            warehouse=str(tmp_path / "wh2"),
            checkpoint_root=str(tmp_path / "ckpt2"),
            sources=[SourceSpec(name="region", path=staging, files_per_trigger=1)],
        )
        svc = IngestionService(spark, cfg)
        svc.run_once()
        t = svc.catalog.table("region")
        assert t.exists()
        assert t.read(spark).count() == load_table(spark, sf_dir, "region").count()
        assert [f.name for f in t.schema().fields] == ["r_regionkey", "r_name"]
        import json
        import os

        path = str(tmp_path / "metrics.jsonl")
        assert os.path.exists(path)
        events = [json.loads(line) for line in open(path)]
        assert any(e["event"] == "progress" for e in events)
    finally:
        spark.streams.removeListener(listener)


def test_stateful_custom_operator_parity(spark, sf_dir):
    """applyInPandasWithState running per-user stats: the LAST emitted row
    per user (update mode re-emits on every touching batch) must equal
    the batch aggregate."""
    from crest_spark.streaming.stateful import running_user_stats

    staging, schema = stage_slices(
        spark, table_path(sf_dir, "events"), n_slices=5, order_col="event_id"
    )
    stream = read_stream(spark, staging, schema)
    q = (
        running_user_stats(stream)
        .writeStream.format("memory")
        .queryName("stateful_stats")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # memory sink in update mode appends every emission; keep each user's
    # final (max n_events) row
    emitted = spark.table("stateful_stats").collect()
    final = {}
    for r in emitted:
        if r["user_id"] not in final or r["n_events"] > final[r["user_id"]]["n_events"]:
            final[r["user_id"]] = r
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    )
    assert len(final) == len(batch)
    for r in batch:
        got = final[r["user_id"]]
        assert got["n_events"] == r["n"]
        assert abs(got["total_value"] - r["s"]) < 1e-6


def test_continuous_trigger_rate_source(spark, tmp_path):
    """Continuous mode (trigger=processingTime, the reference's 500ms
    ticker equivalent): a rate-source stream appends into a lakehouse
    table across multiple triggers until stopped; commits accumulate and
    every committed batch id is unique (no duplicate commits)."""
    import time as _time

    from crest_spark.lakehouse import LakehouseCatalog

    catalog = LakehouseCatalog(str(tmp_path / "wh_rate"))

    def sink(df, batch_id):
        t = catalog.get_or_create_table("ticks", df.schema)
        t.append(df, writer_id="rate", batch_id=batch_id)

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "50").load()
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_rate"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = _time.time() + 60
        t = catalog.table("ticks")
        while _time.time() < deadline:
            if t.exists() and len(t.versions()) >= 4:
                break
            _time.sleep(0.5)
    finally:
        q.stop()
    snaps = catalog.table("ticks").snapshots()
    appends = [s for s in snaps if s.operation == "append"]
    assert len(appends) >= 3  # multiple trigger-driven commits
    batch_ids = [s.batch_id for s in appends]
    assert len(batch_ids) == len(set(batch_ids))  # idempotence keys unique
    assert catalog.table("ticks").read(spark).count() == sum(
        s.num_rows for s in appends
    )


def test_multi_source_fan_in(spark, sf_dir, tmp_path):
    """Multiple concurrent sources -> multiple tables (the reference runs
    one goroutine per (server, view); here one streaming query per
    source, all draining into the same warehouse)."""
    cfgs = []
    for name in ["region", "nation", "supplier"]:
        staging, _ = stage_slices(spark, table_path(sf_dir, name), n_slices=2)
        cfgs.append(SourceSpec(name=name, path=staging, files_per_trigger=1))
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh_multi"),
        checkpoint_root=str(tmp_path / "ckpt_multi"),
        sources=cfgs,
    )
    svc = IngestionService(spark, cfg)
    svc.run_once()
    for name in ["region", "nation", "supplier"]:
        t = svc.catalog.table(name)
        assert t.exists(), name
        assert t.read(spark).count() == load_table(spark, sf_dir, name).count()
    assert svc.catalog.list_tables() == ["nation", "region", "supplier"]


def test_stream_stream_join_parity(spark, sf_dir):
    """Stream-stream inner join with watermarks + event-time range
    condition: each purchase joined to signups of the same user within
    the preceding 7 days. Stream result must equal the identical batch
    join (Structured Streaming's documented guarantee)."""
    staging, schema = stage_slices(
        spark, table_path(sf_dir, "events"), n_slices=4, order_col="event_id"
    )

    def split(df):
        purchases = (
            df.where(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("p_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
        )
        signups = (
            df.where(F.col("event_type") == "signup")
            .select(
                F.col("event_id").alias("s_id"),
                F.col("user_id").alias("s_user"),
                F.col("ts").alias("s_ts"),
            )
        )
        return purchases, signups

    cond = (
        (F.col("p_user") == F.col("s_user"))
        & (F.col("s_ts") <= F.col("p_ts"))
        & (F.col("s_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAYS"))
    )

    sp, ss = split(read_stream(spark, staging, schema, files_per_trigger=1))
    joined = sp.withWatermark("p_ts", "30 days").join(
        ss.withWatermark("s_ts", "30 days"), cond, "inner"
    ).select("p_id", "s_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_pairs = {(r["p_id"], r["s_id"]) for r in spark.table("ss_join").collect()}

    bp, bs = split(load_table(spark, sf_dir, "events"))
    batch_pairs = {
        (r["p_id"], r["s_id"])
        for r in bp.join(bs, cond, "inner").select("p_id", "s_id").collect()
    }
    assert stream_pairs == batch_pairs
    assert len(batch_pairs) > 0


def test_streaming_cdc_upsert_into_lakehouse(spark, sf_dir, tmp_path):
    """CDC-style streaming upsert: each micro-batch MERGEs (not appends)
    into the lakehouse by key, so the table converges to one row per
    user with the LATEST event — replayed updates don't duplicate."""
    from crest_spark.lakehouse import LakehouseCatalog

    staging, schema = stage_slices(
        spark, table_path(sf_dir, "events"), n_slices=4, order_col="event_id"
    )
    catalog = LakehouseCatalog(str(tmp_path / "wh_cdc"))

    def upsert(df, batch_id):
        from pyspark.sql.window import Window

        latest = (
            df.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("user_id").orderBy(F.desc("event_id"))
                ),
            )
            .where(F.col("_rn") == 1)
            .select("user_id", "event_id", "event_type", "value")
        )
        t = catalog.get_or_create_table("user_latest", latest.schema)
        if t.read(spark).count() == 0:
            t.append(latest)
        else:
            # sequence-conditioned: convergent even if the file stream
            # ever delivered micro-batches out of event order
            t.merge(spark, latest, key="user_id", sequence_col="event_id")

    stream = read_stream(spark, staging, schema, files_per_trigger=1)
    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ckpt_cdc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    out = {r["user_id"]: r["event_id"] for r in catalog.table("user_latest").read(spark).collect()}
    batch = load_table(spark, sf_dir, "events")
    expected = {
        r["user_id"]: r["max_id"]
        for r in batch.groupBy("user_id").agg(F.max("event_id").alias("max_id")).collect()
    }
    assert out == expected  # one row per user, latest event id


def test_ingest_enforces_max_rows_per_file(spark, sf_dir, tmp_path):
    """batching.maxRows (dead config in the reference) is enforced here:
    no committed data file holds more than max_rows_per_batch rows."""
    import pyarrow.parquet as pq

    staging, _ = stage_slices(
        spark, table_path(sf_dir, "orders"), n_slices=2, order_col="o_orderkey"
    )
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh_cap"),
        checkpoint_root=str(tmp_path / "ckpt_cap"),
        max_rows_per_batch=100,
        sources=[SourceSpec(name="orders", path=staging, files_per_trigger=2)],
    )
    svc = IngestionService(spark, cfg)
    svc.run_once()
    t = svc.catalog.table("orders")
    assert t.read(spark).count() == load_table(spark, sf_dir, "orders").count()
    for s in t.snapshots():
        for f in s.files:
            assert pq.read_metadata(f).num_rows <= 100, f


def test_ingest_auto_compaction(spark, sf_dir, tmp_path):
    """With compact_after_files set, the sink rewrites the table once the
    live file count crosses the threshold: rows and exactly-once batch ids
    survive the replace, and the final file count stays bounded."""
    staging, _ = stage_slices(
        spark, table_path(sf_dir, "orders"), n_slices=6, order_col="o_orderkey"
    )
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh_ac"),
        checkpoint_root=str(tmp_path / "ckpt_ac"),
        max_rows_per_batch=50,  # force many small files per batch
        compact_after_files=8,
        compact_target_files=2,
        sources=[SourceSpec(name="orders", path=staging, files_per_trigger=1)],
    )
    svc = IngestionService(spark, cfg)
    svc.run_once()
    t = svc.catalog.table("orders")
    expected = load_table(spark, sf_dir, "orders").count()
    assert t.read(spark).count() == expected
    assert t.row_count() == expected
    # a replace commit happened (compaction ran at least once)
    assert any(s.operation == "replace" for s in t.snapshots())
    # bounded: at most threshold-1 pre-existing + target + last batch's files
    assert t.file_count() < 8 + 2 + (expected // 50 + 1)
    # idempotence survives compaction: re-delivering an already-committed
    # batch id is still a no-op after the replace rewrote the file set
    src = load_table(spark, sf_dir, "orders").limit(10)
    assert t.append(src, writer_id="ingest-default.orders", batch_id=0) is None
    assert t.read(spark).count() == expected


def test_batch_sessionize_matches_native_session_window(spark, sf_dir):
    """q33's LAG/SUM sessionization must agree with Spark's built-in
    gap-merging session_window on session count and per-session event
    counts — two independent implementations of the same semantics."""
    from crest_spark.operators.timeseries import SESSION_GAP_S, q33_sessionize
    from crest_spark.sources.tables import load_table

    ours = q33_sessionize(spark, sf_dir).collect()
    native = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_S} seconds").alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    )
    assert len(ours) == len(native)
    # session_window's end is exclusive (last_ts + gap); compare the
    # multiset of (user, start-second, n_events) instead
    a = sorted((r["user_id"], r["start_epoch"], r["n_events"]) for r in ours)
    b = sorted(
        (r["user_id"], int(r["w"]["start"].timestamp()), r["n_events"])
        for r in native
    )
    assert a == b


def test_ingest_auto_compaction_zorder(spark, sf_dir, tmp_path):
    """compaction.zorderBy: the sink's periodic rewrite clusters on the
    configured columns — per-file o_custkey ranges narrow vs the global
    span, rows and batch-id idempotence intact."""
    import pyarrow.parquet as pq

    staging, _ = stage_slices(
        spark, table_path(sf_dir, "orders"), n_slices=6, order_col="o_orderkey"
    )
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh_z"),
        checkpoint_root=str(tmp_path / "ckpt_z"),
        max_rows_per_batch=50,
        compact_after_files=8,
        compact_target_files=4,
        compact_zorder_by=["o_custkey"],
        sources=[SourceSpec(name="orders", path=staging, files_per_trigger=1)],
    )
    svc = IngestionService(spark, cfg)
    svc.run_once()
    t = svc.catalog.table("orders")
    assert t.read(spark).count() == load_table(spark, sf_dir, "orders").count()
    replaces = [s for s in t.snapshots() if s.operation == "replace"]
    assert replaces
    files = replaces[-1].files
    if len(files) > 1:  # single-column zorder == range sort: disjoint-ish files
        spans, lo, hi = [], None, None
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index("o_custkey")
            st = [md.row_group(g).column(idx).statistics for g in range(md.num_row_groups)]
            mn, mx = min(s.min for s in st), max(s.max for s in st)
            spans.append((mn, mx))
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
        mean_span = sum((mx - mn) / (hi - lo) for mn, mx in spans) / len(spans)
        assert mean_span < 0.6, spans


def test_crest_table_streaming_source(spark, sf_dir, tmp_path):
    """The crest_table Python Data Source tails a lakehouse table: rows
    appended after stream start arrive in micro-batches with the table
    schema; a compaction mid-stream contributes nothing."""
    from crest_spark.lakehouse import LakehouseCatalog
    from crest_spark.sources.table_stream import register_table_stream

    register_table_stream(spark)
    src = load_table(spark, sf_dir, "region")
    cat = LakehouseCatalog(str(tmp_path / "wh_ts"))
    t = cat.get_or_create_table("region_stream", src.schema)
    t.append(src)  # pre-stream snapshot: must NOT be delivered

    stream = (
        spark.readStream.format("crest_table")
        .option("warehouse", str(tmp_path / "wh_ts"))
        .option("table", "region_stream")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("region_tail")
        .option("checkpointLocation", str(tmp_path / "ckpt_ts"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        # initialOffset is pinned when the FIRST batch runs (start() is
        # async) — wait for it before appending, or the appends race it
        q.processAllAvailable()
        assert q.recentProgress, "stream never produced a batch"
        t.append(src.limit(3))
        t.compact(spark, target_partitions=1)  # empty delta, must not break
        t.append(src.limit(2))

        q.processAllAvailable()
        got = spark.table("region_tail")
        assert got.count() == 5  # 3 + 2, snapshot excluded, compaction empty
        assert set(got.columns) == {"r_regionkey", "r_name"}
    finally:
        q.stop()


def test_crest_table_stream_resumes_from_checkpoint(spark, sf_dir, tmp_path):
    """Offsets are commit versions in the engine checkpoint: rows appended
    while the stream is DOWN are delivered exactly once on restart."""
    from crest_spark.lakehouse import LakehouseCatalog
    from crest_spark.sources.table_stream import register_table_stream

    register_table_stream(spark)
    src = load_table(spark, sf_dir, "region")
    cat = LakehouseCatalog(str(tmp_path / "wh_rs"))
    t = cat.get_or_create_table("region_rs", src.schema)
    t.append(src)
    ckpt = str(tmp_path / "ckpt_rs")
    out = str(tmp_path / "out_rs")  # file sink: supports recovery

    def start():
        return (
            spark.readStream.format("crest_table")
            .option("warehouse", str(tmp_path / "wh_rs"))
            .option("table", "region_rs")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 second")
            .start()
        )

    def delivered():
        try:
            return spark.read.parquet(out).count()
        except Exception:  # noqa: BLE001 — sink dir not created yet
            return 0

    q1 = start()
    q1.processAllAvailable()  # pins initialOffset before the append
    t.append(src.limit(3))
    q1.processAllAvailable()
    assert delivered() == 3
    q1.stop()

    t.append(src.limit(2))  # appended while the stream is down
    q2 = start()
    try:
        q2.processAllAvailable()
        # exactly the missed rows arrive — no replay of the 3 delivered
        assert delivered() == 5
    finally:
        q2.stop()


def _stream_rows(t, after, upto, col):
    """Values of ``col`` that the crest_table stream delivers for the
    offset range ``(after, upto]``: the reader's own partitions, read on
    the driver — no streaming query needed."""
    from crest_spark.sources.table_stream import CrestTableStreamReader

    reader = CrestTableStreamReader(
        {"warehouse": t.root, "namespace": t.namespace, "table": t.name},
        t.schema(),
    )
    return sorted(
        x
        for p in reader.partitions({"version": after}, {"version": upto})
        for b in reader.read(p)
        for x in b.column(col).to_pylist()
    )


def _k_table(spark, tmp_path):
    from crest_spark.lakehouse import LakehouseCatalog

    def rows(ks):
        return spark.createDataFrame([(k,) for k in ks], "k long")

    cat = LakehouseCatalog(str(tmp_path / "wh_k"))
    return cat.get_or_create_table("k", rows([0]).schema), rows


def test_crest_table_stream_skips_staged_and_branch_commits(spark, tmp_path):
    """Staged and branch commits contribute nothing: their rows arrive
    once, at the publish / fast-forward commit that lists them, so the
    stream delivers no discarded staged row and no published row twice."""
    t, rows = _k_table(spark, tmp_path)
    v0 = t.append(rows([0]))
    t.discard_staged([t.append(rows([1, 2, 3]), stage=True)])
    t.publish_staged([t.append(rows([4, 5]), stage=True)])
    t.create_branch("exp")
    t.append(rows([6]), branch="exp")
    t.fast_forward("exp")
    got = sorted(r["k"] for r in t.read_changes(spark, after=v0).collect())
    assert got == [4, 5, 6]
    assert _stream_rows(t, v0, t.version(), "k") == got


def test_crest_table_stream_refuses_a_range_inside_expired_history(
    spark, tmp_path
):
    """An offset below the oldest retained version cannot replay: the
    expiry boundary merged the whole expired prefix, so the range raises
    instead of delivering that prefix again."""
    t, rows = _k_table(spark, tmp_path)
    for k in range(4):
        t.append(rows([k]))  # v2..v5
    w = t.version()
    t.append(rows([4]))
    t.append(rows([5]))
    t.expire_snapshots(keep_last=2)
    assert t.versions() == [w + 1, w + 2]
    with pytest.raises(ValueError, match="expired"):
        _stream_rows(t, w, t.version(), "k")
    assert _stream_rows(t, w + 1, t.version(), "k") == [5]


def test_stage_slices_mtimes_ordered(spark, sf_dir, tmp_path):
    """Replay determinism contract: slice files carry strictly increasing
    mtimes in range order, so FileStreamSource's mtime ordering delivers
    micro-batches in event order (one parquet job otherwise stamps every
    slice identically and the replay order is arbitrary)."""
    import os

    staging, _ = stage_slices(
        spark,
        table_path(sf_dir, "events"),
        n_slices=4,
        order_col="event_id",
        dest=str(tmp_path / "stage_mtime"),
    )
    files = sorted(
        os.path.join(r, f)
        for r, _d, fs in os.walk(staging)
        for f in fs
        if f.endswith(".parquet")
    )
    mtimes = [os.path.getmtime(f) for f in files]
    assert len(files) >= 2
    assert all(b - a >= 1.0 for a, b in zip(mtimes, mtimes[1:]))


def test_transform_with_state_parity(spark, sf_dir):
    """The transformWithStateInPandas implementation of the running
    per-user stats operator must converge to the same final state as the
    applyInPandasWithState one (and as the batch aggregate)."""
    from crest_spark.streaming.stateful import running_user_stats_tws

    if running_user_stats_tws is None:
        pytest.skip(
            "transformWithState unavailable (needs Spark>=4 AND python "
            "protobuf, which this container does not ship — the TWS "
            "driver worker imports google.protobuf at startup)"
        )

    staging, schema = stage_slices(
        spark, table_path(sf_dir, "events"), n_slices=4, order_col="event_id"
    )
    stream = read_stream(spark, staging, schema, files_per_trigger=1)
    q = (
        running_user_stats_tws(stream)
        .writeStream.format("memory")
        .queryName("tws_stats")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update-mode memory sink: last emission per user is the final state
    out = spark.sql(
        """
        SELECT user_id, n_events, total_value FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id ORDER BY n_events DESC) AS rn
            FROM tws_stats) WHERE rn = 1
        """
    ).collect()
    got = {r["user_id"]: (r["n_events"], round(r["total_value"], 4)) for r in out}
    batch = load_table(spark, sf_dir, "events")
    expected = {
        r["user_id"]: (r["n"], round(r["tv"], 4))
        for r in batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv"))
        .collect()
    }
    assert got == expected


def test_derived_aggregate_table_cascade(spark, sf_dir, tmp_path):
    """The materialized-view role end-to-end: events ingest into a base
    lakehouse table; a crest_table stream tails the base and folds each
    DELTA into a derived per-type aggregate table (incremental view
    maintenance — only the increment is aggregated, never a base
    re-scan). After a second ingestion wave and a second drain, the
    derived table equals the batch aggregate of everything ingested.
    This is the RisingWave-MV role the reference delegates upstream,
    expressed as source -> table -> derived table."""
    from crest_spark.lakehouse import LakehouseCatalog
    from crest_spark.sources.table_stream import register_table_stream

    register_table_stream(spark)
    cat = LakehouseCatalog(str(tmp_path / "wh_mv"))
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    half1 = events.where(F.col("event_id") % 2 == 0)
    half2 = events.where(F.col("event_id") % 2 == 1)

    base = cat.get_or_create_table("events_base", events.schema)
    base.append(half1)

    derived_schema = (
        base.read(spark)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
        .schema
    )
    derived = cat.get_or_create_table("events_by_type", derived_schema)

    def fold_delta(delta, batch_id):
        d = delta.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv")
        )
        cur = derived.read(spark)
        merged = (
            cur.unionByName(d)
            .groupBy("event_type")
            .agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
        )
        derived.overwrite(merged)

    def drain():
        q = (
            spark.readStream.format("crest_table")
            .option("warehouse", str(tmp_path / "wh_mv"))
            .option("table", "events_base")
            .load()
            .writeStream.foreachBatch(fold_delta)
            .option("checkpointLocation", str(tmp_path / "ckpt_mv"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # NOTE: the stream's initialOffset is the version at FIRST start, so
    # the pre-stream snapshot (half1) seeds the derived table directly
    fold_delta(base.read(spark), -1)
    drain()  # no new commits yet: no-op
    base.append(half2)  # second ingestion wave
    drain()  # folds exactly the half2 delta

    got = {
        r["event_type"]: (r["n"], round(r["sv"], 6))
        for r in derived.read(spark).collect()
    }
    expected = {
        r["event_type"]: (r["n"], round(r["sv"], 6))
        for r in events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
        .collect()
    }
    assert got == expected


def test_ingest_cluster_by_lands_clustered_commits(spark, sf_dir, tmp_path):
    """A source configured with cluster_by commits range-clustered files:
    the commit records the clustering, and a key-range scan prunes to a
    strict subset of the snapshot's files."""
    staging, _ = stage_slices(
        spark, table_path(sf_dir, "orders"), n_slices=2, order_col="o_orderkey"
    )
    cfg = IngestConfig(
        warehouse=str(tmp_path / "whc"),
        checkpoint_root=str(tmp_path / "ckptc"),
        sources=[
            SourceSpec(
                name="orders",
                path=staging,
                files_per_trigger=1,
                cluster_by=["o_orderkey"],
            )
        ],
        max_rows_per_batch=5_000,
    )
    svc = IngestionService(spark, cfg)
    svc.run_once()
    t = svc.catalog.table("orders")
    appends = [s for s in t.snapshots() if s.operation == "append"]
    assert appends and all(
        s.extra.get("cluster_by") == ["o_orderkey"] for s in appends
    )
    total = t.file_count()
    assert total > 1
    lo = load_table(spark, sf_dir, "orders").agg(F.min("o_orderkey")).first()[0]
    pruned = t.pruned_files(predicates={"o_orderkey": (lo, lo + 10)})
    assert len(pruned) < total


def test_ingest_upsert_mode_converges_to_latest(spark, sf_dir, tmp_path):
    """mode: upsert — the ingestion service MERGEs each micro-batch by
    key instead of appending, so the target converges to one row per
    user with the highest-sequence event, equal to a batch recompute
    over everything ingested."""
    from pyspark.sql.window import Window

    staging, _ = stage_slices(
        spark, table_path(sf_dir, "events"), n_slices=4, order_col="event_id"
    )
    cfg = IngestConfig(
        warehouse=str(tmp_path / "whu"),
        checkpoint_root=str(tmp_path / "ckptu"),
        sources=[
            SourceSpec(
                name="user_latest",
                path=staging,
                files_per_trigger=1,
                mode="upsert",
                key="user_id",
                sequence_col="event_id",
            )
        ],
        max_rows_per_batch=100_000,
    )
    svc = IngestionService(spark, cfg)
    svc.run_once()
    t = svc.catalog.table("user_latest")
    got = {
        r["user_id"]: r["event_id"] for r in t.read(spark).collect()
    }
    src = load_table(spark, sf_dir, "events")
    want = {
        r["user_id"]: r["event_id"]
        for r in src.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("event_id"))
            ),
        )
        .where(F.col("_rn") == 1)
        .collect()
    }
    assert got == want  # one row per user, latest event wins
    assert t.read(spark).count() == len(want)
    # re-running the drained stream is a no-op state-wise
    svc2 = IngestionService(spark, cfg)
    svc2.run_once()
    got2 = {
        r["user_id"]: r["event_id"] for r in t.read(spark).collect()
    }
    assert got2 == want


def test_ingest_upsert_with_tombstones(spark, sf_dir, tmp_path):
    """deleteCol: CDC batches carrying delete markers remove their keys
    through the ingestion service; the marker never lands in the table."""
    import os

    import pandas as pd

    staging = str(tmp_path / "cdc_staging")
    os.makedirs(staging)
    pd.DataFrame(
        {
            "user_id": [1, 2, 3],
            "seq": [1, 1, 1],
            "v": [10, 20, 30],
            "op_delete": [False, False, False],
        }
    ).to_parquet(os.path.join(staging, "b1.parquet"))
    pd.DataFrame(
        {
            "user_id": [2, 3, 4],
            "seq": [2, 0, 2],
            "v": [0, 99, 40],
            "op_delete": [True, True, False],
        }
    ).to_parquet(os.path.join(staging, "b2.parquet"))
    cfg = IngestConfig(
        warehouse=str(tmp_path / "whcdc"),
        checkpoint_root=str(tmp_path / "ckptcdc"),
        sources=[
            SourceSpec(
                name="users",
                path=staging,
                files_per_trigger=1,
                mode="upsert",
                key="user_id",
                sequence_col="seq",
                delete_col="op_delete",
            )
        ],
    )
    from crest_spark.lakehouse import LakehouseCatalog

    IngestionService(spark, cfg).run_once()
    t = LakehouseCatalog(str(tmp_path / "whcdc")).table("users")
    rows = {r["user_id"]: r["v"] for r in t.read(spark).collect()}
    assert "op_delete" not in t.read(spark).columns
    assert rows == {1: 10, 3: 30, 4: 40}  # 2 deleted; 3's stale delete lost


def test_ingest_derive_streaming_corpus_dedup(spark, sf_dir, tmp_path):
    """derive: ingest-time generated columns feeding the upsert key — the
    streaming exact-dedup recipe. Documents stream in slices (each slice
    duplicated, copies=2); the service derives a content hash and a
    first-seen priority per batch and MERGEs on the hash, so the table
    converges to one row per distinct text with the LOWEST doc_id — equal
    to the batch dedup_exact contract over the same corpus."""
    # corpus with every text exactly duplicated under a higher doc_id
    docs = load_table(spark, sf_dir, "documents")
    dup = docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    combined = str(tmp_path / "dup_corpus")
    docs.unionByName(dup).write.parquet(combined)
    staging, _ = stage_slices(
        spark, combined, n_slices=3, order_col="doc_id"
    )
    cfg = IngestConfig(
        warehouse=str(tmp_path / "whd"),
        checkpoint_root=str(tmp_path / "ckptd"),
        sources=[
            SourceSpec(
                name="corpus_unique",
                path=staging,
                files_per_trigger=2,
                mode="upsert",
                derive={
                    "content_hash": "md5(cast(text AS binary))",
                    "first_seen": "-doc_id",
                },
                key="content_hash",
                sequence_col="first_seen",
            )
        ],
        max_rows_per_batch=100_000,
    )
    svc = IngestionService(spark, cfg)
    svc.run_once()
    t = svc.catalog.table("corpus_unique")
    got = {
        r["content_hash"]: r["doc_id"] for r in t.read(spark).collect()
    }
    src = load_table(spark, sf_dir, "documents")
    want = {
        r["content_hash"]: r["keep_id"]
        for r in src.groupBy(
            F.md5(F.col("text").cast("binary")).alias("content_hash")
        )
        .agg(F.min("doc_id").alias("keep_id"))
        .collect()
    }
    assert got == want  # one row per distinct text, first-seen doc kept
    # replaying the drained stream changes nothing (exactly-once + merge
    # convergence compose with derived keys)
    IngestionService(spark, cfg).run_once()
    got2 = {
        r["content_hash"]: r["doc_id"] for r in t.read(spark).collect()
    }
    assert got2 == want


def test_ingest_upsert_change_feed_feeds_incremental_view(
    spark, sf_dir, tmp_path
):
    """changeFeed: the config-first CDC pipeline end to end — upsert
    ingestion stages each merge's change set, and a downstream
    incremental aggregate view refreshes over the upserted table (signed
    fold) to exactly the batch recompute."""
    from crest_spark.lakehouse.matview import AggSpec, IncrementalAggView

    staging, _ = stage_slices(
        spark, table_path(sf_dir, "events"), n_slices=4, order_col="event_id"
    )
    cfg = IngestConfig(
        warehouse=str(tmp_path / "whcf"),
        checkpoint_root=str(tmp_path / "ckptcf"),
        sources=[
            SourceSpec(
                name="user_latest_cf",
                path=staging,
                files_per_trigger=1,
                mode="upsert",
                key="user_id",
                sequence_col="event_id",
                change_feed=True,
            )
        ],
        max_rows_per_batch=100_000,
    )
    svc = IngestionService(spark, cfg)
    view = IncrementalAggView(
        svc.catalog,
        source="user_latest_cf",
        name="type_counts",
        group_by=["event_type"],
        aggs={
            "n_users": AggSpec("count"),
            "sum_value": AggSpec("sum", "value"),
        },
    )
    svc.run_once()  # several merge commits land
    view.refresh(spark)
    t = svc.catalog.table("user_latest_cf")
    exp = {
        r["event_type"]: (r["n"], r["s"])
        for r in t.read(spark)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    got = {
        r["event_type"]: (r["n_users"], r["sum_value"])
        for r in view.read(spark).collect()
    }
    assert set(k for k, v in got.items() if v[0] > 0) == set(exp)
    for k, (n, s) in exp.items():
        assert got[k][0] == n, (k, got[k], n)
        assert abs(got[k][1] - s) < 1e-6


def test_ingest_derive_append_mode(spark, sf_dir, tmp_path):
    """derive also applies in plain append mode: computed columns become
    part of the pinned table schema on first write."""
    staging, _ = stage_slices(
        spark, table_path(sf_dir, "region"), n_slices=2
    )
    cfg = IngestConfig(
        warehouse=str(tmp_path / "whda"),
        checkpoint_root=str(tmp_path / "ckptda"),
        sources=[
            SourceSpec(
                name="region_tagged",
                path=staging,
                files_per_trigger=2,
                derive={"name_len": "length(r_name)"},
            )
        ],
        max_rows_per_batch=100_000,
    )
    IngestionService(spark, cfg).run_once()
    from crest_spark.lakehouse import LakehouseCatalog

    t = LakehouseCatalog(cfg.warehouse).table("region_tagged")
    rows = {r["r_name"]: r["name_len"] for r in t.read(spark).collect()}
    assert rows and all(v == len(k) for k, v in rows.items())


def test_ingest_upsert_mor_strategy_leaves_files_and_converges(
    spark, sf_dir, tmp_path
):
    """mergeStrategy: mor — the ingestion service commits each upsert
    micro-batch as a merge-on-read row delta: after the first batch, no
    existing data file is ever rewritten, yet the readable state
    converges to the same per-key winners as CoW; compact() folds the
    accumulated deltas without changing the rowset."""
    from pyspark.sql.window import Window

    staging, _ = stage_slices(
        spark, table_path(sf_dir, "events"), n_slices=4, order_col="event_id"
    )
    cfg = IngestConfig(
        warehouse=str(tmp_path / "whm"),
        checkpoint_root=str(tmp_path / "ckptm"),
        sources=[
            SourceSpec(
                name="user_latest_mor",
                path=staging,
                files_per_trigger=1,
                mode="upsert",
                key="user_id",
                sequence_col="event_id",
                merge_strategy="mor",
            )
        ],
        max_rows_per_batch=100_000,
    )
    svc = IngestionService(spark, cfg)
    svc.run_once()
    t = svc.catalog.table("user_latest_mor")
    # every non-replace commit after the bootstrap append must be a
    # merge-on-read rowdelta; the bootstrap files are never rewritten
    snaps = t.snapshots()
    assert snaps[-1].version > 1
    first_files = set(snaps[0].files) or set(snaps[1].files)
    assert first_files <= set(t._state()["files"])
    assert any(s.extra.get("merge_on_read") for s in snaps)
    got = {r["user_id"]: r["event_id"] for r in t.read(spark).collect()}
    src = load_table(spark, sf_dir, "events")
    want = {
        r["user_id"]: r["event_id"]
        for r in src.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("event_id"))
            ),
        )
        .where(F.col("_rn") == 1)
        .collect()
    }
    assert got == want
    t.compact(spark, target_partitions=2)
    assert not t._state()["deletes"]
    assert {
        r["user_id"]: r["event_id"] for r in t.read(spark).collect()
    } == want


def test_config_accepts_mor_with_change_feed(tmp_path):
    # r6: MoR composes with the change data feed (and stays
    # sequence-aware), so a hot-key CDC upsert stream can drive signed
    # incremental views — the r5 mutual exclusion is gone
    from crest_spark.config import load_config

    cfg = tmp_path / "ok.yaml"
    cfg.write_text(
        """
warehouse: w
checkpoints: c
sources:
  - name: t
    path: p
    mode: upsert
    key: k
    sequenceCol: s
    mergeStrategy: mor
    changeFeed: true
"""
    )
    src = load_config(str(cfg)).ingest.sources[0]
    assert src.merge_strategy == "mor"
    assert src.change_feed is True
    assert src.sequence_col == "s"


def test_ingest_upsert_mor_with_change_feed_feeds_incremental_view(
    spark, sf_dir, tmp_path
):
    """The r6 composition end to end, config-first: mergeStrategy mor +
    sequenceCol + changeFeed. Every upsert micro-batch commits a
    sequence-aware merge-on-read row delta (bootstrap files never
    rewritten) AND stages its change set, and a downstream incremental
    aggregate view refreshes over the hot-key stream to exactly the
    batch recompute — the pipeline VERDICT r5 called out as impossible
    (cow+CDF or mor-without-views)."""
    from pyspark.sql.window import Window

    from crest_spark.lakehouse.matview import AggSpec, IncrementalAggView

    staging, _ = stage_slices(
        spark, table_path(sf_dir, "events"), n_slices=4, order_col="event_id"
    )
    cfg = IngestConfig(
        warehouse=str(tmp_path / "whmcf"),
        checkpoint_root=str(tmp_path / "ckptmcf"),
        sources=[
            SourceSpec(
                name="user_latest_mcf",
                path=staging,
                files_per_trigger=1,
                mode="upsert",
                key="user_id",
                sequence_col="event_id",
                change_feed=True,
                merge_strategy="mor",
            )
        ],
        max_rows_per_batch=100_000,
    )
    svc = IngestionService(spark, cfg)
    view = IncrementalAggView(
        svc.catalog,
        source="user_latest_mcf",
        name="type_counts_mor",
        group_by=["event_type"],
        aggs={
            "n_users": AggSpec("count"),
            "sum_value": AggSpec("sum", "value"),
        },
    )
    svc.run_once()
    t = svc.catalog.table("user_latest_mcf")
    snaps = t.snapshots()
    assert any(s.extra.get("merge_on_read") for s in snaps)
    # the merge-on-read contract held through the whole stream: the
    # bootstrap append's files were never rewritten
    first_files = set(snaps[0].files) or set(snaps[1].files)
    assert first_files <= set(t._state()["files"])
    # every rowdelta commit staged its change set
    for s in snaps:
        if s.extra.get("merge_on_read"):
            assert s.extra.get("change_files"), (
                f"rowdelta v{s.version} staged no change set"
            )
    view.refresh(spark)
    got = {
        (r["event_type"]): (r["n_users"], round(r["sum_value"], 4))
        for r in view.read(spark).where(F.col("n_users") > 0).collect()
    }
    src = load_table(spark, sf_dir, "events")
    latest = (
        src.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("event_id"))
            ),
        )
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    want = {
        r["event_type"]: (r["n"], round(r["s"], 4))
        for r in latest.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want


def test_ingest_expectations_quarantine_split(spark, sf_dir, tmp_path):
    """Rows violating an expectation (FALSE or NULL) never reach the
    target; they land in <table>__quarantine labeled with exactly the
    rules they broke, and clean rows are untouched."""
    staging, _ = stage_slices(
        spark, table_path(sf_dir, "events"), n_slices=2, order_col="event_id"
    )
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        sources=[
            SourceSpec(
                name="events",
                path=staging,
                files_per_trigger=1,
                expect={
                    "id_mod": "event_id % 7 <> 0",
                    "early": "event_id < 9000",
                },
            )
        ],
    )
    svc = IngestionService(spark, cfg)
    svc.run_once()

    src = load_table(spark, sf_dir, "events")
    good = svc.catalog.table("events").read(spark)
    bad = svc.catalog.table("events__quarantine").read(spark)

    n_total = src.count()
    n_violating = src.where(
        (F.col("event_id") % 7 == 0) | (F.col("event_id") >= 9000)
    ).count()
    assert bad.count() == n_violating > 0
    assert good.count() == n_total - n_violating
    assert good.where(F.col("event_id") % 7 == 0).count() == 0
    # labels name exactly the broken rules
    both = bad.where(
        (F.col("event_id") % 7 == 0) & (F.col("event_id") >= 9000)
    ).select("_violated").first()
    if both is not None:
        assert sorted(both[0]) == ["early", "id_mod"]
    only_mod = (
        bad.where((F.col("event_id") % 7 == 0) & (F.col("event_id") < 9000))
        .select("_violated")
        .first()
    )
    assert only_mod[0] == ["id_mod"]


def test_ingest_expectations_null_violates_and_drop(spark, sf_dir, tmp_path):
    """NULL predicate results violate (unknown != pass), and
    onViolation='drop' discards without creating a quarantine table."""
    import os

    src = load_table(spark, sf_dir, "region").withColumn(
        "flag", F.when(F.col("r_regionkey") % 2 == 0, F.lit(1))
    )
    staged = str(tmp_path / "staged")
    src.write.parquet(staged)
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        sources=[
            SourceSpec(
                name="region",
                path=staged,
                expect={"flag_set": "flag = 1"},
                on_violation="drop",
            )
        ],
    )
    svc = IngestionService(spark, cfg)
    svc.run_once()
    got = svc.catalog.table("region").read(spark)
    # odd keys have flag NULL -> violation -> dropped
    assert got.where(F.col("r_regionkey") % 2 == 1).count() == 0
    assert got.count() == src.where(F.col("r_regionkey") % 2 == 0).count()
    assert not os.path.exists(
        os.path.join(str(tmp_path / "wh"), "default", "region__quarantine")
    )


def test_ingest_expectations_fail_kills_stream(spark, sf_dir, tmp_path):
    """onViolation='fail' surfaces the violation as a stream error — the
    poison-batch guard."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    staging, _ = stage_slices(
        spark, table_path(sf_dir, "region"), n_slices=1
    )
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        sources=[
            SourceSpec(
                name="region",
                path=staging,
                expect={"impossible": "r_regionkey < 0"},
                on_violation="fail",
            )
        ],
    )
    svc = IngestionService(spark, cfg)
    with pytest.raises((StreamingQueryException, Py4JJavaError)) as excinfo:
        svc.run_once()
    assert "expectation violation" in str(excinfo.value)
    svc.stop()


def test_config_parses_expectations(tmp_path):
    """YAML expect/onViolation wiring + validation."""
    from crest_spark.config import load_config

    cfg_path = tmp_path / "cfg.yaml"
    cfg_path.write_text(
        """
warehouse: data/wh
checkpoints: data/ckpt
sources:
  - name: events
    path: /staging/events
    expect:
      user_present: "user_id IS NOT NULL"
    onViolation: drop
"""
    )
    spec = load_config(str(cfg_path)).ingest.sources[0]
    assert spec.expect == {"user_present": "user_id IS NOT NULL"}
    assert spec.on_violation == "drop"

    cfg_path.write_text(
        """
warehouse: data/wh
checkpoints: data/ckpt
sources:
  - name: events
    path: /staging/events
    onViolation: explode
"""
    )
    with pytest.raises(ValueError, match="onViolation"):
        load_config(str(cfg_path))


def test_ingest_expectations_compose_with_derive_and_upsert(
    spark, sf_dir, tmp_path
):
    """Rules may reference derived columns (derive runs first), and the
    quarantine split applies before upsert mode handling — bad rows
    never reach the merge."""
    staging, _ = stage_slices(
        spark, table_path(sf_dir, "events"), n_slices=2, order_col="event_id"
    )
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        sources=[
            SourceSpec(
                name="latest",
                path=staging,
                mode="upsert",
                key="user_id",
                sequence_col="event_id",
                derive={"id_bucket": "event_id % 5"},
                expect={"bucket_ok": "id_bucket <> 0"},
            )
        ],
    )
    svc = IngestionService(spark, cfg)
    svc.run_once()
    src = load_table(spark, sf_dir, "events")
    good = svc.catalog.table("latest").read(spark)
    bad = svc.catalog.table("latest__quarantine").read(spark)
    # no event with id % 5 == 0 survived into the merged table
    assert good.where(F.col("event_id") % 5 == 0).count() == 0
    assert bad.count() == src.where(F.col("event_id") % 5 == 0).count()
    # the table converged to one row per user: the max CLEAN event_id
    expected = (
        src.where(F.col("event_id") % 5 != 0)
        .groupBy("user_id")
        .agg(F.max("event_id").alias("m"))
    )
    got = good.select("user_id", F.col("event_id").alias("m"))
    assert sorted((r[0], r[1]) for r in got.collect()) == sorted(
        (r[0], r[1]) for r in expected.collect()
    )


def test_ingest_batch_expectations_stage_divert(spark, sf_dir, tmp_path):
    """A batch failing an aggregate gate diverts to a WAP staged commit:
    nothing lost, nothing visible, audit decides. Batches passing the
    gate land live as usual."""
    staging, _ = stage_slices(
        spark, table_path(sf_dir, "events"), n_slices=4, order_col="event_id"
    )
    n_total = load_table(spark, sf_dir, "events").count()
    per_batch = n_total // 4
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        sources=[
            SourceSpec(
                name="events",
                path=staging,
                files_per_trigger=1,
                # slices are event_id-ordered: only the FIRST batch has
                # min(event_id) small enough to pass
                expect_batch={"fresh": f"MIN(event_id) < {per_batch}"},
                on_batch_violation="stage",
            )
        ],
    )
    svc = IngestionService(spark, cfg)
    svc.run_once()
    t = svc.catalog.table("events")
    assert t.read(spark).count() == per_batch  # only batch 0 live
    staged = t.pending_staged()
    assert len(staged) == 3  # the other three diverted, none lost
    t.publish_staged()
    assert t.read(spark).count() == n_total


def test_ingest_batch_expectations_skip_and_fail(spark, sf_dir, tmp_path):
    """skip drops violating batches (offsets still advance); fail kills
    the stream."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    staging, _ = stage_slices(
        spark, table_path(sf_dir, "region"), n_slices=1
    )
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh_skip"),
        checkpoint_root=str(tmp_path / "ckpt_skip"),
        sources=[
            SourceSpec(
                name="region",
                path=staging,
                expect_batch={"huge": "COUNT(*) >= 1000000"},
                on_batch_violation="skip",
            )
        ],
    )
    svc = IngestionService(spark, cfg)
    svc.run_once()
    # skipped batch never created/filled the table
    t = svc.catalog.table("region")
    assert (not t.exists()) or t.read(spark).count() == 0
    # re-running from the same checkpoint does not re-deliver it
    svc2 = IngestionService(spark, cfg)
    svc2.run_once()
    t2 = svc2.catalog.table("region")
    assert (not t2.exists()) or t2.read(spark).count() == 0

    cfg_fail = IngestConfig(
        warehouse=str(tmp_path / "wh_fail"),
        checkpoint_root=str(tmp_path / "ckpt_fail"),
        sources=[
            SourceSpec(
                name="region",
                path=staging,
                expect_batch={"huge": "COUNT(*) >= 1000000"},
                on_batch_violation="fail",
            )
        ],
    )
    svc3 = IngestionService(spark, cfg_fail)
    with pytest.raises((StreamingQueryException, Py4JJavaError)) as excinfo:
        svc3.run_once()
    assert "batch expectation violation" in str(excinfo.value)
    svc3.stop()


def test_config_parses_batch_expectations(tmp_path):
    from crest_spark.config import load_config

    cfg_path = tmp_path / "cfg.yaml"
    cfg_path.write_text(
        """
warehouse: data/wh
checkpoints: data/ckpt
sources:
  - name: events
    path: /staging/events
    expectBatch:
      volume: "COUNT(*) >= 10"
    onBatchViolation: stage
"""
    )
    spec = load_config(str(cfg_path)).ingest.sources[0]
    assert spec.expect_batch == {"volume": "COUNT(*) >= 10"}
    assert spec.on_batch_violation == "stage"

    cfg_path.write_text(
        """
warehouse: data/wh
checkpoints: data/ckpt
sources:
  - name: events
    path: /staging/events
    mode: upsert
    key: user_id
    sequenceCol: event_id
    onBatchViolation: stage
"""
    )
    with pytest.raises(ValueError, match="onBatchViolation 'stage'"):
        load_config(str(cfg_path))


def test_ingest_lineage_columns_trace_quarantine_to_file(
    spark, sf_dir, tmp_path
):
    """lineage: true stamps _source_file/_ingest_batch; a quarantined
    row points at the exact staged file that produced it."""
    staging, _ = stage_slices(
        spark, table_path(sf_dir, "region"), n_slices=2
    )
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        sources=[
            SourceSpec(
                name="region",
                path=staging,
                files_per_trigger=1,
                lineage=True,
                expect={"low_key": "r_regionkey <= 2"},
            )
        ],
    )
    svc = IngestionService(spark, cfg)
    svc.run_once()
    good = svc.catalog.table("region").read(spark)
    bad = svc.catalog.table("region__quarantine").read(spark)
    assert {"_source_file", "_ingest_batch"} <= set(good.columns)
    n_src = load_table(spark, sf_dir, "region").count()
    assert good.count() + bad.count() == n_src
    # every row (clean and quarantined) resolves to a real staged file
    for df in (good, bad):
        for r in df.select("_source_file", "_ingest_batch").collect():
            assert r[0] is not None and r[0].endswith(".parquet")
            assert r[1] is not None
    # distinct source files across both tables == the staged slice count
    srcs = set(
        r[0]
        for df in (good, bad)
        for r in df.select("_source_file").collect()
    )
    assert len(srcs) == 2


def test_continuous_matview_over_ingested_mor_sequence_stream(
    spark, sf_dir, tmp_path
):
    """VERDICT r6 next-round #8, the last CDC-composition edge: a
    CONTINUOUS (availableNow) matview maintenance stream tails a table
    the INGESTION SERVICE is upserting with mergeStrategy mor +
    sequenceCol + changeFeed, across multiple sequence-aware MoR waves
    WITH a kill-and-restart of the ingestion mid-stream. After every
    drain the view equals the one-shot SQL aggregate over the table's
    current state; the MoR contract (bootstrap files never rewritten)
    holds throughout."""
    import time as _time

    from crest_spark.lakehouse.matview import AggSpec, IncrementalAggView

    staging, _ = stage_slices(
        spark, table_path(sf_dir, "events"), n_slices=6, order_col="event_id"
    )
    cfg = IngestConfig(
        warehouse=str(tmp_path / "whcmv"),
        checkpoint_root=str(tmp_path / "ckptcmv"),
        sources=[
            SourceSpec(
                name="user_latest_cmv",
                path=staging,
                files_per_trigger=1,
                mode="upsert",
                key="user_id",
                sequence_col="event_id",
                change_feed=True,
                merge_strategy="mor",
            )
        ],
        max_rows_per_batch=100_000,
    )
    svc = IngestionService(spark, cfg)
    view = IncrementalAggView(
        svc.catalog,
        source="user_latest_cmv",
        name="cmv_type_agg",
        group_by=["event_type"],
        aggs={
            "n_users": AggSpec("count"),
            "sum_value": AggSpec("sum", "value"),
        },
    )
    view_ckpt = str(tmp_path / "view_ckpt")

    def check(t):
        want = {
            r["event_type"]: (r["n"], round(r["s"], 4))
            for r in t.read(spark)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
            .collect()
        }
        got = {
            r["event_type"]: (r["n_users"], round(r["sum_value"], 4))
            for r in view.read(spark).collect()
            if r["n_users"] > 0
        }
        assert got == want

    # phase 1: run the service, kill it after a few MoR micro-batches
    svc.start()
    deadline = _time.time() + 120
    t = svc.catalog.table("user_latest_cmv")
    while _time.time() < deadline:
        if t.exists() and len(t.versions()) >= 4:
            break
        _time.sleep(0.5)
    svc.stop()  # "kill" mid-stream
    snaps = t.snapshots()
    assert sum(1 for s in snaps if s.extra.get("merge_on_read")) >= 1
    bootstrap_files = set(snaps[0].files) or set(snaps[1].files)
    # the view drains what phase 1 committed — deltas still pending
    q = view.maintain_continuously(spark, view_ckpt, available_now=True)
    q.awaitTermination(120)
    check(t)

    # phase 2: restart ingestion from its checkpoint, drain the rest
    svc2 = IngestionService(spark, cfg)
    svc2.run_once()
    t2 = svc2.catalog.table("user_latest_cmv")
    mor_commits = [
        s for s in t2.snapshots() if s.extra.get("merge_on_read")
    ]
    assert len(mor_commits) >= 3  # >=3 sequence-aware MoR waves total
    assert all(s.extra["deletes"][0].get("seqcol") for s in mor_commits)
    assert bootstrap_files <= set(t2._state()["files"])  # never rewritten
    # view restart from ITS checkpoint folds the remaining change sets
    q = view.maintain_continuously(spark, view_ckpt, available_now=True)
    q.awaitTermination(120)
    check(t2)

    # exactly-once end state: table holds the per-user latest rows
    from pyspark.sql.window import Window

    src = load_table(spark, sf_dir, "events")
    want_users = (
        src.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("event_id"))
            ),
        )
        .where(F.col("_rn") == 1)
        .count()
    )
    assert t2.read(spark).count() == want_users


def test_ingest_branch_mode_lands_on_branch_then_fast_forwards(
    spark, sf_dir, tmp_path
):
    """`branch:` ingestion — the experiment/backfill pipeline: every
    micro-batch commits to the named branch ref (auto-created on first
    batch), invisible to main until `fast_forward` lands the whole run
    in one commit."""
    staging, _ = stage_slices(
        spark, table_path(sf_dir, "events"), n_slices=3, order_col="event_id"
    )
    n_total = load_table(spark, sf_dir, "events").count()
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        sources=[
            SourceSpec(
                name="events",
                path=staging,
                files_per_trigger=1,
                branch="backfill",
            )
        ],
    )
    svc = IngestionService(spark, cfg)
    svc.run_once()
    t = svc.catalog.table("events")
    # main is untouched; the branch carries all three micro-batches
    assert t.read(spark).count() == 0
    br = t.branches()["backfill"]
    assert len(br["entries"]) == 3
    assert t.read_branch(spark, "backfill").count() == n_total
    # replaying the stream is a no-op (batch ids recorded on the branch)
    svc2 = IngestionService(spark, cfg)
    svc2.run_once()
    assert len(t.branches()["backfill"]["entries"]) == 3
    t.fast_forward("backfill")
    assert t.read(spark).count() == n_total
    assert "backfill" not in t.branches()


def test_ingest_minhash_verify_fetch_is_file_pruned(
    spark, tmp_path, monkeypatch
):
    """VERDICT r11 #2: the ingest-maintained minhash path must NOT read
    the full corpus per micro-batch to fetch verify texts. With the
    source clustered by doc_id, the verify fetch goes through a
    candidate-id pruned scan whose admitted file set is a strict subset
    of the table's files — O(matching files) I/O per arrival, not
    O(corpus)."""
    import random

    from crest_spark.lakehouse.table import LakehouseTable
    from crest_spark.streaming.replay import stage_slices

    rng = random.Random(7)
    words = lambda i: " ".join(  # noqa: E731
        f"w{rng.randrange(10**9)}" for _ in range(30)
    )
    texts = {i: words(i) for i in range(400)}
    texts[305] = texts[5]  # one cross-slice near-dup pair: (5, 305)
    docs = spark.createDataFrame(
        [(i, texts[i]) for i in range(400)], "doc_id long, text string"
    )
    src = str(tmp_path / "src")
    docs.coalesce(1).write.parquet(src)
    staging, _ = stage_slices(
        spark, src, n_slices=4, order_col="doc_id",
        dest=str(tmp_path / "stage"),
    )

    calls = []
    orig = LakehouseTable.pruned_files

    def spy(self, predicates, version=None):
        out = orig(self, predicates, version=version)
        if self.name == "docs" and "doc_id" in predicates:
            calls.append(
                (dict(predicates), len(out), self.file_count())
            )
        return out

    monkeypatch.setattr(LakehouseTable, "pruned_files", spy)

    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        sources=[
            SourceSpec(
                name="docs",
                path=staging,
                files_per_trigger=1,
                cluster_by=["doc_id"],
                indexes=[
                    {
                        "kind": "minhash",
                        "name": "docs_mh",
                        "id_col": "doc_id",
                        "text_col": "text",
                        "mine_pairs": True,
                    }
                ],
            )
        ],
    )
    svc = IngestionService(spark, cfg)
    svc.run_once()

    # correctness: the cross-slice pair was mined
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in svc.catalog.table("docs_mh__pairs").read(spark).collect()
    }
    assert (5, 305) in pairs

    # the verify fetch used a candidate-id LIST predicate and opened a
    # STRICT subset of the table's files (pre-fix: full table.read —
    # zero pruned_files calls, every file opened every batch)
    assert calls, "verify fetch must go through the pruned scan"
    probe = [
        (pred, n_open, n_total)
        for pred, n_open, n_total in calls
        if isinstance(pred["doc_id"], list) and 305 in pred["doc_id"]
    ]
    assert probe, f"no candidate-list scan recorded: {calls}"
    for _pred, n_open, n_total in probe:
        assert n_open < n_total, (n_open, n_total)
        assert n_open <= 2  # candidates live in exactly 2 slice files


def test_ingest_ivfpq_rebuilds_on_drift(spark, sf_dir, tmp_path):
    """VERDICT r11 #4 (reshaped r14 / VERDICT r13 #1): the codes-only
    IVF-PQ index cannot re-fit from itself (no floats) — the rebuild
    reads the SOURCE table, via the source binding the ingest build
    stamps. Since r14 the rebuild is OFF-PATH: a large second batch
    pushes drift past the threshold but the hook only stamps it
    (O(batch) inline work); the maintenance entry point then rebuilds
    from the bound source — the head commit is a fresh build, drift
    resets, and the rebuilt index's recall vs exact brute-force meets
    the fresh-build floor."""
    import numpy as np

    from crest_spark.operators.vector_index import (
        ivf_drift,
        ivfpq_search,
        rebuild_if_drifted,
        rebuild_pending,
    )

    em = load_table(spark, sf_dir, "embeddings")
    small = em.where(F.col("vec_id") < 40)
    big = em.where(F.col("vec_id") >= 40)
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        sources=[
            SourceSpec(
                name="emb",
                path=str(tmp_path / "unused"),
                indexes=[
                    {
                        "kind": "ivfpq",
                        "name": "pqr",
                        "recluster_threshold": 0.5,
                    }
                ],
            )
        ],
    )
    svc = IngestionService(spark, cfg)
    sink = svc._sink(cfg.sources[0])
    sink(small, 0)
    t = svc.catalog.table("pqr")
    assert ivf_drift(t) == 0.0
    sink(big, 1)  # drift = |big| / |small| >> 0.5 — stamped, NOT rebuilt
    assert t.snapshots()[-1].operation == "append"  # hook stayed O(batch)
    assert rebuild_pending(t)
    assert rebuild_if_drifted(spark, t, catalog=svc.catalog) is not None
    head = t.snapshots()[-1]
    assert head.extra.get("ivfpq"), "head must be a fresh build commit"
    assert ivf_drift(t) == 0.0  # rebuild rebased the drift counter
    n = em.count()
    assert t.read(spark).count() == n
    # recall floor vs exact brute-force — same bar as a fresh build
    queries = em.where(F.col("vec_id") < 5)
    got = ivfpq_search(spark, t, em, queries, k=5, nprobe=8)
    mine = {(r["query_id"], r["vec_id"]) for r in got.collect()}
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in em.collect()
    }
    for vid in vecs:
        vecs[vid] = vecs[vid] / max(np.linalg.norm(vecs[vid]), 1e-12)
    exact = set()
    for q in range(5):
        sims = sorted(
            ((float(vecs[q] @ v), vid) for vid, v in vecs.items() if vid != q),
            key=lambda t2: (-t2[0], t2[1]),
        )[:5]
        exact |= {(q, vid) for _, vid in sims}
    recall = len(mine & exact) / len(exact)
    assert recall >= 0.5, f"post-rebuild recall {recall} below floor"


def test_ingest_ivf_honors_spec_recluster_threshold(spark, sf_dir, tmp_path):
    """Review r12 (reshaped r14): the spec's recluster_threshold is
    stamped into the build metadata and drives the OFF-PATH rebuild
    decision — with a low threshold a modest second batch makes the
    rebuild pending (while the hook itself only stamps drift and keeps
    the inline work O(batch)), and the maintenance entry point — given
    NO explicit threshold — honors the stamped 0.1 where the default
    0.5 would have been a no-op."""
    from crest_spark.operators.vector_index import (
        ivf_drift,
        latest_build_meta,
        rebuild_if_drifted,
        rebuild_pending,
    )

    em = load_table(spark, sf_dir, "embeddings")
    first = em.where(F.col("vec_id") < 150)
    second = em.where((F.col("vec_id") >= 150) & (F.col("vec_id") < 200))
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        sources=[
            SourceSpec(
                name="emb",
                path=str(tmp_path / "unused"),
                indexes=[
                    {
                        "kind": "ivf",
                        "name": "ivt",
                        "recluster_threshold": 0.1,
                    }
                ],
            )
        ],
    )
    svc = IngestionService(spark, cfg)
    sink = svc._sink(cfg.sources[0])
    sink(first, 0)
    t = svc.catalog.table("ivt")
    assert latest_build_meta(t)[1]["recluster_threshold"] == 0.1
    sink(second, 1)  # drift 50/150 = 0.33 > 0.1 (but < default 0.5)
    assert t.snapshots()[-1].operation == "append"  # no inline rebuild
    assert 0.1 < ivf_drift(t) < 0.5
    assert rebuild_pending(t)  # stamped threshold, not the 0.5 default
    assert rebuild_if_drifted(spark, t) is not None
    head = t.snapshots()[-1]
    assert head.extra.get("ivf"), "rebuild must honor the stamped 0.1"
    assert ivf_drift(t) == 0.0


def test_ingest_minhash_index_compaction_restores_pruning(
    spark, sf_dir, tmp_path
):
    """r12 (policy reshaped r13): micro-batch index appends have
    corpus-wide per-file sig spans (sigs are uniform hashes), so file
    accretion erodes the bucket-key pruned fetch — the maintenance
    loop sig-sorts the UNCLUSTERED TAIL past the threshold
    (VERDICT r12 #1: tail-only, never a full-index rewrite inside the
    serial hook). After draining many small batches: (a) at least two
    tail compactions ran, (b) the SECOND rewrite's input excluded the
    first sorted run — run 1's files are live UNCHANGED in the second
    compaction's snapshot and at HEAD (carried by reference via
    keep_files), (c) file count obeys the policy bound
    max_runs x target + threshold (independent of batch count),
    (d) the sign-once n_docs x LSH_BANDS invariant holds, and (e) a
    bucket-key probe still admits a strict file subset after repeated
    compactions."""
    from crest_spark.operators.dedup import LSH_BANDS

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        sources=[
            SourceSpec(
                name="docs",
                path=str(tmp_path / "unused"),
                indexes=[
                    {
                        "kind": "minhash",
                        "name": "cmh",
                        "mine_pairs": False,
                        "compact_after_files": 4,
                        "compact_target_files": 4,
                    }
                ],
            )
        ],
    )
    svc = IngestionService(spark, cfg)
    sink = svc._sink(cfg.sources[0])
    n_batches = 12
    for b in range(n_batches):
        sink(docs.where(F.col("doc_id") % n_batches == b), b)
    idx = svc.catalog.table("cmh")
    assert idx.read(spark).count() == n_docs * LSH_BANDS  # signed once
    # (a)+(b): two tail compactions; the second carried run 1 by
    # reference — its rewrite input was ONLY the accreted tail
    replaces = [s for s in idx.snapshots() if s.operation == "replace"]
    assert len(replaces) >= 2
    run1 = set(replaces[0].extra["cluster_run"]["files"])
    assert run1 and run1 <= set(replaces[1].files)
    assert run1 <= set(idx._state()["files"])  # still live at HEAD
    # (c) policy-bounded file count: max_runs x target + threshold
    assert idx.file_count() <= 4 * 4 + 4
    # the tail can reach (but not exceed) the threshold between
    # triggers — compaction runs BEFORE each batch's own append
    assert idx.unclustered_file_count(cluster_by=["sig"]) <= 4
    # (e) a bucket-key probe prunes: take a real indexed sig — run
    # files are sig-narrow, so admission is O(runs + tail), a strict
    # subset of the live set
    probe = idx.read(spark).limit(1).collect()[0]["sig"]
    admitted = idx.pruned_files({"sig": [probe]})
    assert 0 < len(admitted) < idx.file_count()


def test_ingest_ivf_index_compaction_bounds_files(spark, sf_dir, tmp_path):
    """r12 (policy reshaped r13, add layout reshaped r14): delta files
    accrete ~one per batch (AQE-sized range clustering) between drift
    rebuilds — the maintenance loop's TAIL-ONLY cell-clustered rewrite
    past the threshold bounds the count (the build run + prior
    compaction runs ride by reference; past max_cluster_runs the
    smallest runs merge geometrically) while probes stay correct
    (pruned subset, every vector present exactly once, search
    returns k)."""
    from crest_spark.operators.vector_index import ivf_index_search

    em = load_table(spark, sf_dir, "embeddings")
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        sources=[
            SourceSpec(
                name="emb",
                path=str(tmp_path / "unused"),
                indexes=[
                    {
                        "kind": "ivf",
                        "name": "civ",
                        # high drift threshold: isolate compaction from
                        # the rebuild path
                        "recluster_threshold": 100.0,
                        # adds write ~1 file per batch since r14: the
                        # tail threshold is now ~batches, same as the
                        # minhash index policy
                        "compact_after_files": 4,
                        "max_cluster_runs": 2,
                    }
                ],
            )
        ],
    )
    svc = IngestionService(spark, cfg)
    sink = svc._sink(cfg.sources[0])
    n_batches = 8
    for b in range(n_batches):
        sink(em.where(F.col("vec_id") % n_batches == b), b)
    t = svc.catalog.table("civ")
    n = em.count()
    assert t.read(spark).count() == n
    assert t.read(spark).select("vec_id").distinct().count() == n
    # compaction bounded the file count by the policy: the ceiling is
    # 2 runs x n_cells + the tail threshold + one uncompacted wave
    assert t.file_count() <= 2 * 16 + 4 + 2
    replaces = [s2 for s2 in t.snapshots() if s2.operation == "replace"]
    assert len(replaces) >= 2  # the build plus >= 1 compaction rewrite
    # pruning still bites — a single-cell probe opens at most
    # max_runs run files + the bounded tail — and probes work
    cell0 = t.pruned_files({"cell": (0, 0)})
    assert 0 < len(cell0) < t.file_count()
    queries = em.where(F.col("vec_id") < 3)
    assert ivf_index_search(spark, t, queries, k=5).count() == 15


def test_ingest_compaction_preserves_source_clustering(
    spark, sf_dir, tmp_path
):
    """r12: with cluster_by on the source but no explicit
    compact_zorder_by, the auto-compaction rewrite must preserve the
    clustered layout — a plain repartition would silently destroy the
    per-file key ranges the pruned lookup paths rely on."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        compact_after_files=4,
        compact_target_files=4,
        sources=[
            SourceSpec(
                name="docs",
                path=str(tmp_path / "unused"),
                cluster_by=["doc_id"],
            )
        ],
    )
    svc = IngestionService(spark, cfg)
    sink = svc._sink(cfg.sources[0])
    n_batches = 8
    for b in range(n_batches):
        sink(docs.where(F.col("doc_id") % n_batches == b), b)
    t = svc.catalog.table("docs")
    assert t.read(spark).count() == docs.count()
    # compaction ran (tail-only: runs + tail obey the policy bound)
    replaces = [s for s in t.snapshots() if s.operation == "replace"]
    assert replaces
    assert t.file_count() <= 4 * 4 + 4
    # post-compaction point lookup still prunes: the rewrite kept
    # narrow per-file doc_id ranges in the sorted run, so a point
    # probe admits the matching run file(s) + the wide tail only
    probe = t.read(spark).limit(1).collect()[0]["doc_id"]
    admitted = t.pruned_files({"doc_id": (probe, probe)})
    assert 0 < len(admitted) < t.file_count()


def test_ingest_minhash_pairs_table_compaction_bounds_files(
    spark, sf_dir, tmp_path
):
    """Review r12: the <name>__pairs results table accretes one file
    per micro-batch too — the same threshold bin-packs it, and the
    accumulated pair set still equals the one-shot batch miner's."""
    from crest_spark.registry import load_all

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        sources=[
            SourceSpec(
                name="docs",
                path=str(tmp_path / "unused"),
                indexes=[
                    {
                        "kind": "minhash",
                        "name": "pmh",
                        "mine_pairs": True,
                        "compact_after_files": 3,
                        "compact_target_files": 2,
                    }
                ],
            )
        ],
    )
    svc = IngestionService(spark, cfg)
    sink = svc._sink(cfg.sources[0])
    n_batches = 6
    for b in range(n_batches):
        sink(docs.where(F.col("doc_id") % n_batches == b), b)
    pt = svc.catalog.table("pmh__pairs")
    assert pt.file_count() < n_batches  # bin-packed, not one per batch
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in pt.read(spark).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in load_all()["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_ingest_ivf_compaction_rejects_target_below_cell_count(
    spark, tmp_path
):
    """The probe contract needs every run file single-valued on cell,
    so an ivf/ivfpq add's tail compaction always writes one file per
    cell and a spec-level compact_target_files has no effect on it.
    The key is a config error, raised when the sink is built — before
    any batch commits, not hours into a run."""
    import pytest as _pt

    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        sources=[
            SourceSpec(
                name="emb",
                path=str(tmp_path / "unused"),
                indexes=[
                    {
                        "kind": "ivf",
                        "name": "badciv",
                        "recluster_threshold": 100.0,
                        "compact_after_files": 2,
                        # no effect on an ivf index: a config error
                        "compact_target_files": 2,
                    }
                ],
            )
        ],
    )
    svc = IngestionService(spark, cfg)
    with _pt.raises(ValueError, match="compact_target_files"):
        svc._sink(cfg.sources[0])


def test_ingest_ivfpq_drift_rebuild_is_off_path(spark, sf_dir, tmp_path):
    """VERDICT r13 #1 done-criterion: drift crossing the recluster
    threshold no longer triggers an inline full-corpus rebuild in the
    serial foreachBatch hook — subsequent micro-batches COMMIT while
    the rebuild is pending (drift observable, no replace landed), the
    rebuild lands via the maintenance entry point (from the source
    binding the build stamped) with the drift marker cleared, and
    ingestion continues against the new index."""
    from crest_spark.operators.vector_index import (
        ivf_drift,
        rebuild_if_drifted,
        rebuild_pending,
    )

    em = load_table(spark, sf_dir, "embeddings")
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        sources=[
            SourceSpec(
                name="emb",
                path=str(tmp_path / "unused"),
                indexes=[
                    {
                        "kind": "ivfpq",
                        "name": "pqidx",
                        "recluster_threshold": 0.3,
                    }
                ],
            )
        ],
    )
    svc = IngestionService(spark, cfg)
    sink = svc._sink(cfg.sources[0])
    sink(em.where(F.col("vec_id") < 100), 0)  # build
    t = svc.catalog.table("pqidx")

    def builds():
        return sum(1 for s in t.snapshots() if s.extra.get("ivfpq"))

    assert builds() == 1
    # adds accrete drift well past 0.3 — the hook must keep committing
    # WITHOUT any inline rebuild (its work stays O(batch))
    bounds = [(100, 140), (140, 190), (190, 260)]
    for b, (lo, hi) in enumerate(bounds, start=1):
        sink(
            em.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), b
        )
    assert builds() == 1  # NO inline rebuild
    assert ivf_drift(t) > 0.3
    assert rebuild_pending(t)  # observable + re-triggerable
    assert svc.catalog.table("emb").read(spark).count() == 260
    assert t.read(spark).count() == 260  # every batch committed
    # the maintenance path lands the rebuild — binding self-served
    v = rebuild_if_drifted(spark, t, catalog=svc.catalog)
    assert v is not None
    assert ivf_drift(t) == 0.0 and not rebuild_pending(t)
    assert builds() == 2
    # ingestion keeps flowing against the rebuilt index
    sink(em.where((F.col("vec_id") >= 260) & (F.col("vec_id") < 300)), 4)
    out = t.read(spark)
    assert out.count() == 300
    assert out.select("vec_id").distinct().count() == 300


def test_ingest_skips_add_covered_by_staged_rebuild(
    spark, sf_dir, tmp_path
):
    """The coverage race the staged rebuild opens: batch K's SOURCE
    append lands, a rebuild publishes having read the source at-or-
    after K, and only then does batch K's index-add phase run (the
    serial hook was mid-batch, or replaying after a crash). The hook
    must SKIP the add — the rebuild's corpus read already encoded
    those rows — or the index double-holds K's vectors."""
    from crest_spark.operators.vector_index import rebuild_if_drifted

    em = load_table(spark, sf_dir, "embeddings")
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        sources=[
            SourceSpec(
                name="emb",
                path=str(tmp_path / "unused"),
                indexes=[
                    {
                        "kind": "ivfpq",
                        "name": "pqskip",
                        "recluster_threshold": 0.3,
                    }
                ],
            )
        ],
    )
    svc = IngestionService(spark, cfg)
    src_spec = cfg.sources[0]
    sink = svc._sink(src_spec)
    sink(em.where(F.col("vec_id") < 150), 0)  # build
    sink(
        em.where((F.col("vec_id") >= 150) & (F.col("vec_id") < 200)), 1
    )
    table = svc.catalog.table("emb")
    t = svc.catalog.table("pqskip")
    wid = "ingest-default.emb"
    # batch 2's source append lands...
    rows_b2 = em.where(
        (F.col("vec_id") >= 200) & (F.col("vec_id") < 240)
    )
    v2 = table.append(rows_b2, writer_id=wid, batch_id=2)
    # ...a staged rebuild publishes covering the source AT v2...
    assert rebuild_if_drifted(spark, t, catalog=svc.catalog, force=True)
    n = t.read(spark).count()
    assert n == 240  # rebuild covers batch 2's rows already
    adds = sum(1 for s in t.snapshots() if "ivf_add" in s.extra)
    # ...and only then does batch 2's index maintenance run
    svc._maintain_indexes(
        src_spec, table, rows_b2, "default", wid, 2, v2
    )
    assert t.read(spark).count() == n  # SKIPPED: no double-add
    assert sum(1 for s in t.snapshots() if "ivf_add" in s.extra) == adds
    assert t.read(spark).select("vec_id").distinct().count() == n


def test_service_rebuild_indexes_once_sweeps_drifted(
    spark, sf_dir, tmp_path
):
    """r14: the service's own maintenance sweep — the deterministic
    entry point behind index_rebuild_interval — rebuilds exactly the
    indexes whose drift crossed their stamped threshold, self-serving
    the source binding; below-threshold indexes are untouched."""
    from crest_spark.operators.vector_index import (
        ivf_drift,
        rebuild_pending,
    )

    em = load_table(spark, sf_dir, "embeddings")
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        sources=[
            SourceSpec(
                name="emb",
                path=str(tmp_path / "unused"),
                indexes=[
                    {
                        "kind": "ivfpq",
                        "name": "pqsweep",
                        "recluster_threshold": 0.3,
                    },
                    {
                        "kind": "ivf",
                        "name": "ivsweep",
                        # high threshold: must NOT be rebuilt
                        "recluster_threshold": 50.0,
                    },
                ],
            )
        ],
    )
    svc = IngestionService(spark, cfg)
    sink = svc._sink(cfg.sources[0])
    sink(em.where(F.col("vec_id") < 100), 0)
    sink(em.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 200)), 1)
    pq = svc.catalog.table("pqsweep")
    iv = svc.catalog.table("ivsweep")
    assert rebuild_pending(pq) and not rebuild_pending(iv)
    iv_head = iv.version()
    landed = svc.rebuild_indexes_once()
    assert set(landed) == {"default.pqsweep"}
    assert ivf_drift(pq) == 0.0
    assert iv.version() == iv_head  # below threshold: untouched
    assert svc.rebuild_indexes_once() == {}  # idempotent: nothing left


def test_service_rebuild_thread_lands_while_stream_runs(
    spark, sf_dir, tmp_path
):
    """r14 end-to-end: with index_rebuild_interval set, start() runs
    the maintenance daemon alongside a live processing-time stream —
    drift accretes from real micro-batches, the thread's staged
    rebuild lands WHILE batches keep committing, and stop() joins the
    thread cleanly. (The race-correctness itself is pinned by the
    deterministic staged-rebuild suite; this is the wiring test.)"""
    import os as _os
    import shutil
    import time as _time

    from crest_spark.operators.vector_index import ivf_drift

    em = load_table(spark, sf_dir, "embeddings")
    stage = str(tmp_path / "stage")
    _os.makedirs(stage)
    em.where(F.col("vec_id") < 100).coalesce(1).write.mode(
        "append"
    ).parquet(stage)
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        trigger_interval="1 seconds",
        sources=[
            SourceSpec(
                name="emb",
                path=stage,
                files_per_trigger=1,
                indexes=[
                    {
                        "kind": "ivfpq",
                        "name": "pqlive",
                        "recluster_threshold": 0.3,
                    }
                ],
            )
        ],
        index_rebuild_interval=2.0,
    )
    svc = IngestionService(spark, cfg)
    svc.start()
    try:
        assert svc._rebuild_thread.is_alive()
        # feed a drift-crossing second batch through the live stream
        em.where(
            (F.col("vec_id") >= 100) & (F.col("vec_id") < 220)
        ).coalesce(1).write.mode("append").parquet(stage)
        t = svc.catalog.table("pqlive")
        deadline = _time.monotonic() + 90
        rebuilt = False
        while _time.monotonic() < deadline:
            try:
                if (
                    t.exists()
                    and t.read(spark).count() == 220
                    and ivf_drift(t) == 0.0
                    and sum(
                        1
                        for s in t.snapshots()
                        if s.extra.get("ivfpq")
                    )
                    >= 2
                ):
                    rebuilt = True
                    break
            except Exception:
                pass  # table mid-commit: retry
            _time.sleep(1.0)
        assert rebuilt, "maintenance thread never landed the rebuild"
        # and the stream is still alive and committing
        assert all(q.isActive for q in svc.queries)
    finally:
        svc.stop()
        shutil.rmtree(stage, ignore_errors=True)
    assert not svc._rebuild_thread.is_alive()
    out = t.read(spark)
    assert out.count() == 220
    assert out.select("vec_id").distinct().count() == 220


def test_replay_shuffle_partitions_sizing(spark, sf_dir, tmp_path):
    """The bounded-replay drain width tracks staged bytes, floors at 4,
    and never exceeds the session's configured width (r14 optimization:
    every stateful shuffle partition is a per-micro-batch RocksDB store
    commit, so an MB-scale replay must not drain at cluster width)."""
    from crest_spark.streaming.replay import replay_shuffle_partitions

    staging, _ = stage_slices(
        spark, table_path(sf_dir, "events"), n_slices=4, order_col="event_id"
    )
    configured = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = replay_shuffle_partitions(spark, staging)
    assert 4 <= n <= configured
    # MB-scale staged input must resolve to the floor, not cluster width
    total = 0
    for root, _dirs, files in __import__("os").walk(staging):
        for f in files:
            if f.endswith(".parquet"):
                total += __import__("os").path.getsize(
                    __import__("os").path.join(root, f)
                )
    assert n == max(4, min(configured, -(-total // (32 << 20))))


def test_run_to_memory_restores_session_width(spark, sf_dir):
    """run_to_memory(staging_dir=...) resizes only the drain: the
    session's shuffle width must be back to its configured value after
    the query completes, and the drained rows must equal the
    full-width batch answer (partition-count invariance)."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    staging, schema = stage_slices(
        spark, table_path(sf_dir, "events"), n_slices=4, order_col="event_id"
    )
    stream = read_stream(spark, staging, schema, files_per_trigger=2)
    agg = stream.select("event_id", "user_id").dropDuplicates(
        ["event_id"]
    ).groupBy("user_id").agg(F.count("*").alias("n"))
    drained = run_to_memory(agg, "t_replay_width", staging_dir=staging)
    assert spark.conf.get(key) == before
    batch = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id")
        .dropDuplicates(["event_id"])
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
    )
    assert _rows(drained, "user_id", "n") == _rows(batch, "user_id", "n")
