"""Lakehouse commit-log table tests: DDL, transactional append, snapshot
isolation, idempotent (exactly-once) batch commits, schema evolution, and
a full round-trip of every driver table (crest parity, SURVEY §2.1 O9-O13)."""

from __future__ import annotations

import threading

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from crest_spark.lakehouse import LakehouseCatalog
from crest_spark.sources.tables import TABLE_NAMES, load_table


@pytest.fixture()
def catalog(tmp_path):
    return LakehouseCatalog(str(tmp_path / "warehouse"))


def test_create_and_append_roundtrip(spark, catalog, sf_dir):
    src = load_table(spark, sf_dir, "nation")
    t = catalog.get_or_create_table("nation", src.schema)
    v = t.append(src)
    assert v == 2  # create=1, append=2
    back = t.read(spark)
    assert back.count() == src.count()
    assert [f.name for f in back.schema.fields] == [f.name for f in src.schema.fields]
    assert sorted(r[0] for r in back.select("n_nationkey").collect()) == sorted(
        r[0] for r in src.select("n_nationkey").collect()
    )


def test_all_tables_roundtrip(spark, catalog, sf_dir):
    """Every driver table survives the write->commit->read path (the §1.4
    type surface that actually occurs in the fixtures: ints, doubles,
    strings, timestamps, array<float>)."""
    for name in TABLE_NAMES:
        src = load_table(spark, sf_dir, name)
        t = catalog.get_or_create_table(name, src.schema)
        t.append(src)
        assert t.read(spark).count() == src.count(), name


def test_snapshot_isolation_and_time_travel(spark, catalog, sf_dir):
    src = load_table(spark, sf_dir, "region")
    t = catalog.get_or_create_table("region", src.schema)
    v1 = t.append(src)
    old = t.read(spark, version=v1)
    t.append(src)
    assert old.count() == src.count()  # snapshot pinned at v1
    assert t.read(spark, version=v1).count() == src.count()
    assert t.read(spark).count() == 2 * src.count()


def test_idempotent_batch_commit(spark, catalog, sf_dir):
    """Re-delivered (writer_id, batch_id) must be a no-op — the
    exactly-once upgrade over the reference's at-least-once repoll."""
    src = load_table(spark, sf_dir, "region")
    t = catalog.get_or_create_table("region", src.schema)
    assert t.append(src, writer_id="w1", batch_id=0) is not None
    assert t.append(src, writer_id="w1", batch_id=0) is None  # replay skipped
    assert t.append(src, writer_id="w1", batch_id=1) is not None
    assert t.read(spark).count() == 2 * src.count()


def test_schema_mismatch_rejected_and_evolution(spark, catalog, sf_dir):
    src = load_table(spark, sf_dir, "region")
    t = catalog.get_or_create_table("region", src.schema)
    t.append(src)
    widened = src.withColumn("r_comment", F.lit("x"))
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(widened)
    t.append(widened, merge_schema=True)
    out = t.read(spark)
    assert "r_comment" in out.columns
    # pre-evolution rows read as NULL in the new column
    assert out.where(F.col("r_comment").isNull()).count() == src.count()
    # narrow appends (missing the new col) still work: filled with NULL
    t.append(src)
    assert t.read(spark).count() == 3 * src.count()


def test_concurrent_appends_all_commit(spark, catalog, sf_dir):
    """Optimistic concurrency: N racing writers all land distinct versions."""
    src = load_table(spark, sf_dir, "region").cache()
    src.count()
    t = catalog.get_or_create_table("region", src.schema)
    errors: list[Exception] = []

    def work():
        try:
            t.append(src)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=work) for _ in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert t.read(spark).count() == 4 * src.count()
    assert len(t.versions()) == 5  # create + 4 appends
    src.unpersist()


def test_catalog_listing(spark, catalog, sf_dir):
    src = load_table(spark, sf_dir, "region")
    catalog.get_or_create_table("t1", src.schema)
    catalog.get_or_create_table("t2", src.schema, namespace="other")
    assert catalog.list_tables() == ["t1"]
    assert catalog.list_tables("other") == ["t2"]
    assert "default" in catalog.list_namespaces()
    assert "other" in catalog.list_namespaces()


def test_empty_table_read(spark, catalog):
    schema = StructType.fromJson(
        {
            "type": "struct",
            "fields": [
                {"name": "a", "type": "long", "nullable": True, "metadata": {}}
            ],
        }
    )
    t = catalog.get_or_create_table("empty", schema)
    df = t.read(spark)
    assert df.count() == 0
    assert df.schema == schema


def test_log_checkpointing(spark, catalog, sf_dir):
    """Past checkpoint_interval commits, state loads fold one checkpoint +
    the log tail (O(tail), not O(commits)) and stay exactly correct."""
    import os

    src = load_table(spark, sf_dir, "region")
    t = catalog.get_or_create_table("region", src.schema)
    t.checkpoint_interval = 4
    for _ in range(9):
        t.append(src)
    ckpts = t._checkpoint_versions()
    assert ckpts and max(ckpts) >= 8  # interval hit at least twice
    n = src.count()
    assert t.row_count() == 9 * n
    assert t.read(spark).count() == 9 * n
    # time travel before/at/after a checkpoint still exact
    for v in (2, ckpts[-1], 10):
        assert t.read(spark, version=v).count() == (v - 1) * n
    # a torn checkpoint falls back to older checkpoint / full fold
    with open(t._checkpoint_file(ckpts[-1]), "w") as fh:
        fh.write("{garbage")
    assert t.row_count() == 9 * n
    # idempotence map survives the checkpoint path
    t.append(src, writer_id="w9", batch_id=7)
    t.checkpoint_interval = 1
    t.append(src)  # forces a fresh checkpoint that includes w9
    assert 7 in t.committed_batches("w9")
    assert t.append(src, writer_id="w9", batch_id=7) is None
    # expire drops checkpoints that predate the retained horizon
    t.expire_snapshots(keep_last=2)
    assert all(
        cv >= t.versions()[0] for cv in t._checkpoint_versions()
    )
    assert t.read(spark).count() == 11 * n


def test_rollback_writes_its_checkpoint(spark, catalog):
    """A rollback commit landing on a checkpoint_interval multiple
    writes that checkpoint like any other commit, and the state loaded
    through it equals the state folded from the log alone."""
    import json
    import os

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, val string")
    t = catalog.get_or_create_table("rb_ckpt", df.schema)  # v1
    t.checkpoint_interval = 2
    t.append(df)  # v2
    t.append(df.limit(1), stage=True)  # v3: staged after the target
    v = t.rollback(2)
    assert v == 4
    ck = t._checkpoint_file(v)
    assert os.path.exists(ck)

    def plain(state):
        return json.loads(
            json.dumps(
                {k: x for k, x in state.items() if not k.startswith("_")},
                sort_keys=True,
            )
        )

    t._state_memo = {}
    via_ckpt = plain(t._state())
    os.remove(ck)
    t._state_memo = {}
    assert via_ckpt == plain(t._state())
    assert t.read(spark).count() == 2
    assert t.pending_staged() == {}


def test_merge_sequence_out_of_order_converges(spark, catalog, sf_dir):
    """Sequence-conditioned MERGE (Delta's WHEN MATCHED AND s.seq > t.seq):
    delivering event batches deliberately OUT of order still converges to
    the per-key row with the highest sequence — a replayed stale batch can
    never regress a key. This is the at-least-once-safety the reference's
    repoll loop (ingestor.go:131-152) lacks."""
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value"
    )
    lo, hi = events.agg(F.min("event_id"), F.max("event_id")).first()
    span = (hi - lo + 1) // 4 + 1
    slices = [
        events.where(
            (F.col("event_id") >= lo + i * span)
            & (F.col("event_id") < lo + (i + 1) * span)
        ).cache()
        for i in range(4)
    ]
    t = catalog.get_or_create_table("user_latest", events.schema)
    for i in (2, 0, 3, 1):  # deliberately out of event order
        latest = (
            slices[i]
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("user_id").orderBy(F.desc("event_id"))
                ),
            )
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        t.merge(spark, latest, key="user_id", sequence_col="event_id")
    out = {r["user_id"]: r["event_id"] for r in t.read(spark).collect()}
    expected = {
        r["user_id"]: r["mx"]
        for r in events.groupBy("user_id").agg(F.max("event_id").alias("mx")).collect()
    }
    assert out == expected
    for s in slices:
        s.unpersist()


def test_overwrite_conflict_detected(spark, catalog, sf_dir):
    """A derived replace (expected_version set) must NOT commit over a head
    that advanced past its base snapshot."""
    from crest_spark.lakehouse.table import CommitConflict

    src = load_table(spark, sf_dir, "region")
    t = catalog.get_or_create_table("region", src.schema)
    t.append(src)
    base = t.version()
    t.append(src)  # concurrent writer advances the head
    with pytest.raises(CommitConflict, match="head advanced"):
        t.overwrite(src, expected_version=base)
    # unconditional overwrite (not derived from a read) still allowed
    t.overwrite(src)
    assert t.read(spark).count() == src.count()


def test_merge_retries_past_concurrent_append(spark, catalog, sf_dir):
    """A concurrent append landing between merge's read and its commit is
    never silently dropped: the merge detects the conflict, re-reads, and
    the appended rows survive in the final state."""
    src = load_table(spark, sf_dir, "nation")
    t = catalog.get_or_create_table("nation", src.schema)
    t.append(src.where(F.col("n_nationkey") < 20))

    extra = src.where(F.col("n_nationkey") >= 20).cache()
    n_extra = extra.count()
    assert n_extra > 0

    real_overwrite = t.overwrite
    injected = {"done": False}

    def racing_overwrite(df, **kw):
        if not injected["done"]:
            injected["done"] = True
            t.append(extra)  # lands AFTER merge read its base snapshot
        return real_overwrite(df, **kw)

    t.overwrite = racing_overwrite
    try:
        updates = src.where(F.col("n_nationkey") < 5).withColumn(
            "n_name", F.lit("MERGED")
        )
        t.merge(spark, updates, key="n_nationkey")
    finally:
        t.overwrite = real_overwrite

    out = t.read(spark)
    assert injected["done"]
    # the concurrently-appended rows survived the merge's replace
    assert out.where(F.col("n_nationkey") >= 20).count() == n_extra
    assert out.where(F.col("n_name") == "MERGED").count() == 5
    extra.unpersist()


def test_append_casts_to_pinned_schema(spark, catalog, sf_dir):
    """A same-name/different-type append is cast to the pinned table types
    instead of committing parquet files that poison subsequent reads."""
    src = load_table(spark, sf_dir, "region")
    t = catalog.get_or_create_table("region", src.schema)
    t.append(src)
    drifted = src.withColumn("r_regionkey", F.col("r_regionkey").cast("string"))
    t.append(drifted)  # would previously commit string-typed parquet
    out = t.read(spark)  # must still read as one coherent schema
    assert out.schema == t.schema()
    assert out.count() == 2 * src.count()
    assert dict(out.groupBy("r_regionkey").count().collect())  # scan executes


def test_concurrent_merges_both_land(spark, catalog, sf_dir):
    """Two writers merging DIFFERENT keys concurrently: optimistic
    conflict detection forces the loser to re-read and re-merge, so both
    updates land — no lost update in either direction."""
    src = load_table(spark, sf_dir, "region").cache()
    src.count()
    t = catalog.get_or_create_table("region", src.schema)
    t.append(src)
    errors: list[Exception] = []

    def merge_marked(keys, marker):
        try:
            upd = src.where(F.col("r_regionkey").isin(keys)).withColumn(
                "r_name", F.lit(marker)
            )
            t.merge(spark, upd, key="r_regionkey")
        except Exception as e:  # pragma: no cover
            errors.append(e)

    th1 = threading.Thread(target=merge_marked, args=([0, 1], "M1"))
    th2 = threading.Thread(target=merge_marked, args=([3, 4], "M2"))
    th1.start(); th2.start(); th1.join(); th2.join()
    assert not errors
    out = {r["r_regionkey"]: r["r_name"] for r in t.read(spark).collect()}
    assert out[0] == out[1] == "M1"
    assert out[3] == out[4] == "M2"
    assert t.read(spark).count() == src.count()
    src.unpersist()


def test_commit_conflict_metrics_counter(spark, catalog, sf_dir):
    """Merge contention must be observable (VERDICT r3 #8): every lost
    optimistic race increments the (table, op) conflict counter."""
    from crest_spark.streaming.metrics import commit_conflict_counts

    src = load_table(spark, sf_dir, "region").cache()
    src.count()
    t = catalog.get_or_create_table("region_conflict_metrics", src.schema)
    t.append(src)
    before = commit_conflict_counts()

    real_overwrite = t.overwrite
    injected = {"done": False}

    def racing_overwrite(df, **kw):
        if not injected["done"]:
            injected["done"] = True
            t.append(src.limit(1))  # advance the head behind merge's back
        return real_overwrite(df, **kw)

    t.overwrite = racing_overwrite
    try:
        upd = src.where(F.col("r_regionkey") < 2).withColumn(
            "r_name", F.lit("M1")
        )
        t.merge(spark, upd, key="r_regionkey")
    finally:
        t.overwrite = real_overwrite

    key = (f"{t.namespace}.{t.name}", "merge")
    assert commit_conflict_counts().get(key, 0) == before.get(key, 0) + 1
    src.unpersist()


_RACE_SCHEMA = "id int, val string, n int"


def _race_setup(spark, catalog, verb):
    """A tiny table on which ``verb`` has work to do, plus a callable
    running the verb once (returns its result)."""
    df = spark.createDataFrame(
        [(i, f"v{i}", i) for i in range(4)], _RACE_SCHEMA
    )
    t = catalog.get_or_create_table(f"race_{verb}", df.schema)
    t.append(df)
    t.append(df.limit(1).selectExpr("id + 10 AS id", "val", "n"))
    if verb in ("publish_staged", "discard_staged"):
        t.append(df.limit(1).selectExpr("id + 20 AS id", "val", "n"), stage=True)
    if verb == "fast_forward":
        t.create_branch("b")
        t.append(df.limit(1).selectExpr("id + 30 AS id", "val", "n"), branch="b")
    upd = spark.createDataFrame([(0, "m", 0)], _RACE_SCHEMA)
    run = {
        "merge": lambda: t.merge(spark, upd, key="id"),
        "update": lambda: t.update(spark, {"id": (0, 1)}, {"val": "'u'"}),
        "delete_cow": lambda: t.delete(spark, {"id": (0, 0)}),
        "delete_mor": lambda: t.delete(spark, {"id": (0, 0)}, mode="mor"),
        "compact": lambda: t.compact(spark),
        "publish_staged": lambda: t.publish_staged(),
        "discard_staged": lambda: t.discard_staged(),
        "fast_forward": lambda: t.fast_forward("b"),
        "rename_column": lambda: t.rename_column("val", "label"),
        "drop_column": lambda: t.drop_column("n"),
    }[verb]
    return t, run


def _race_commits(t, race):
    """Make ``t``'s conditional commits (those with an expected base)
    race: before each one ``race`` commits through a second handle on
    the same table, advancing the head behind the verb's back (the
    one-shot wrapper pattern of the constraint race tests). Returns
    the list the wrapper appends each conditional commit to."""
    real = type(t)._try_commit
    seen: list[int] = []

    def racing(self, record, expected_base=None):
        if expected_base is not None:
            seen.append(expected_base)
            race(len(seen))
        return real(self, record, expected_base=expected_base)

    t._try_commit = racing.__get__(t)
    return seen


@pytest.mark.parametrize(
    "verb",
    [
        "merge",
        "update",
        "delete_cow",
        "delete_mor",
        "compact",
        "publish_staged",
        "discard_staged",
        "fast_forward",
        "rename_column",
        "drop_column",
    ],
)
def test_commit_race_retried_by_every_verb(spark, catalog, verb):
    """Every read-modify-write verb runs through the one retry driver: a
    concurrent append landing between the verb's state read and its
    conditional commit costs exactly one recorded conflict, the verb
    re-derives and commits, and the concurrent row survives."""
    from crest_spark.streaming.metrics import commit_conflict_counts

    t, run = _race_setup(spark, catalog, verb)
    racer = catalog.table(t.name)
    row = spark.createDataFrame([(100, "racer", 100)], _RACE_SCHEMA)

    def race(n):
        if n == 1:
            racer.append(row)

    op = verb.split("_")[0] if verb.startswith("delete") else verb
    key = (f"{t.namespace}.{t.name}", op)
    before = commit_conflict_counts().get(key, 0)
    seen = _race_commits(t, race)
    assert run() is not None
    assert len(seen) == 2
    assert commit_conflict_counts().get(key, 0) == before + 1
    assert t.read(spark).where(F.col("id") == 100).count() == 1


@pytest.mark.parametrize(
    "verb,budget", [("update", 5), ("rename_column", 50)]
)
def test_commit_race_exhausts_retry_budget(spark, catalog, verb, budget):
    """A verb that loses every race gives up after exactly its budget
    with a CommitConflict chained to the last lost race."""
    from crest_spark.lakehouse.table import CommitConflict
    from crest_spark.streaming.metrics import commit_conflict_counts

    t, run = _race_setup(spark, catalog, verb)
    racer = catalog.table(t.name)
    key = (f"{t.namespace}.{t.name}", verb)
    before = commit_conflict_counts().get(key, 0)
    # a metadata-only racing commit: no Spark job per lost race
    seen = _race_commits(t, lambda n: racer.create_branch(f"r{n}"))
    with pytest.raises(CommitConflict, match="lost the commit race") as ei:
        run()
    assert isinstance(ei.value.__cause__, CommitConflict)
    assert len(seen) == budget
    assert commit_conflict_counts().get(key, 0) == before + budget


def test_concurrent_mixed_workload_stress(spark, sf_dir, tmp_path):
    """Transactional stress: concurrent appenders, a sequence-conditioned
    merger, a compactor, and a vacuum all race on one table. Invariants:
    no exception besides bounded CommitConflict retries handled inside
    merge/compact, no lost appends (every appended key present at the
    end), merge keys converge to their final sequence values, and the
    log stays readable at every surviving version."""
    import threading

    from crest_spark.lakehouse import LakehouseCatalog
    from crest_spark.lakehouse.table import CommitConflict

    cat = LakehouseCatalog(str(tmp_path / "wh_stress"))
    schema = (
        spark.range(0)
        .selectExpr("id", "CAST(0 AS LONG) AS seq", "'w' AS src")
        .schema
    )
    t = cat.get_or_create_table("stress", schema)
    errors: list[Exception] = []

    def appender(wid: int):
        try:
            for b in range(3):
                lo = wid * 10_000 + b * 1_000
                df = spark.range(lo, lo + 1_000).selectExpr(
                    "id", "CAST(0 AS LONG) AS seq", f"'a{wid}' AS src"
                )
                t.append(df, writer_id=f"w{wid}", batch_id=b)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    def merger():
        try:
            for s in range(1, 4):
                upd = spark.range(0, 500).selectExpr(
                    "id", f"CAST({s} AS LONG) AS seq", "'m' AS src"
                )
                t.merge(spark, upd, key="id", sequence_col="seq")
        except CommitConflict as e:
            errors.append(e)  # exhausted retries = real failure
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    def compactor():
        try:
            t.compact(spark, target_partitions=4)
        except CommitConflict:
            pass  # losing the race repeatedly under stress is acceptable
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    def vacuumer():
        try:
            t.vacuum(older_than_s=3600)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = (
        [threading.Thread(target=appender, args=(w,)) for w in range(3)]
        + [threading.Thread(target=merger)]
        + [threading.Thread(target=compactor), threading.Thread(target=vacuumer)]
    )
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []

    rows = {r["id"]: (r["seq"], r["src"]) for r in t.read(spark).collect()}
    # every appended key survived every race
    for wid in range(3):
        for b in range(3):
            lo = wid * 10_000 + b * 1_000
            assert all(lo + i in rows for i in (0, 500, 999))
    # merged keys converged to the highest sequence
    for k in range(0, 500):
        assert rows[k] == (3, "m"), (k, rows[k])
    # replayed appender batches are still no-ops (idempotence intact)
    df = spark.range(0, 1_000).selectExpr(
        "id", "CAST(0 AS LONG) AS seq", "'a0' AS src"
    )
    assert t.append(df, writer_id="w0", batch_id=0) is None
    # the log is readable at every surviving version
    for v in t.versions():
        assert t.read(spark, version=v).count() >= 0


def test_concurrent_cdf_merges_feed_folds_to_final_state(
    spark, catalog, sf_dir
):
    """Two concurrent change-feed merges on different keys: the loser's
    retry must RE-STAGE its change set from the re-read base (staging
    happens inside the retry loop), so folding the full feed reproduces
    the final snapshot exactly — a stale staged diff would double-count
    or resurrect the winner's rows."""
    src = load_table(spark, sf_dir, "region").cache()
    src.count()
    t = catalog.get_or_create_table("region_cdfrace", src.schema)
    v0 = t.version()
    t.append(src)
    errors: list[Exception] = []

    def merge_marked(keys, marker):
        try:
            upd = src.where(F.col("r_regionkey").isin(keys)).withColumn(
                "r_name", F.lit(marker)
            )
            t.merge(spark, upd, key="r_regionkey", change_feed=True)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    th1 = threading.Thread(target=merge_marked, args=([0, 1], "M1"))
    th2 = threading.Thread(target=merge_marked, args=([3, 4], "M2"))
    th1.start(); th2.start(); th1.join(); th2.join()
    assert not errors
    feed = t.read_changes(spark, after=v0, cdf=True).collect()
    sign = {
        "insert": 1,
        "update_postimage": 1,
        "update_preimage": -1,
        "delete": -1,
    }
    net: dict[tuple, int] = {}
    for r in feed:
        k = (r["r_regionkey"], r["r_name"])
        net[k] = net.get(k, 0) + sign[r["_change_type"]]
    folded = {k for k, c in net.items() if c == 1}
    assert not [c for c in net.values() if c not in (0, 1)]
    current = {
        (r["r_regionkey"], r["r_name"]) for r in t.read(spark).collect()
    }
    assert folded == current
    src.unpersist()


def test_date_widens_to_timestamp_ntz_only(spark, catalog):
    """ADVICE r6 (medium): Spark's parquet type widening reads old int32
    date files under timestamp_ntz but NOT under TimestampType (LTZ) —
    promoting date -> LTZ would fail (or go timezone-dependent) at scan
    time. The lattice admits NTZ only; an LTZ append keeps the column
    pinned to date (cast-down contract) and old files stay readable."""
    import datetime

    base = spark.createDataFrame(
        [(1, datetime.date(2024, 1, 2))], "id int, d date"
    )
    t = catalog.get_or_create_table("dwiden", base.schema)
    t.append(base)

    # LTZ timestamp does NOT evolve the column
    ltz = spark.createDataFrame(
        [(2, datetime.datetime(2024, 3, 4, 5, 0))], "id int, d timestamp"
    )
    t.append(ltz, merge_schema=True)
    assert t.schema()["d"].dataType.typeName() == "date"
    rows = {r["id"]: r["d"] for r in t.read(spark).collect()}
    assert rows == {
        1: datetime.date(2024, 1, 2),
        2: datetime.date(2024, 3, 4),
    }

    # NTZ timestamp DOES evolve in place; the old int32 date file
    # upcasts at scan
    ntz = spark.createDataFrame(
        [(3, datetime.datetime(2024, 5, 6, 7, 8))],
        "id int, d timestamp_ntz",
    )
    t.append(ntz, merge_schema=True)
    assert t.schema()["d"].dataType.typeName() == "timestamp_ntz"
    rows = {r["id"]: r["d"] for r in t.read(spark).collect()}
    assert rows[1] == datetime.datetime(2024, 1, 2, 0, 0)
    assert rows[3] == datetime.datetime(2024, 5, 6, 7, 8)


def test_reserved_namespace_reachable_with_warning(spark, tmp_path):
    """ADVICE r11 #4: underscore-prefixed namespaces are reserved
    (un-creatable, hidden from discovery) but a PRE-EXISTING one stays
    explicitly addressable — table() resolves it with a one-time
    warning and list_tables() lists it by name, so old warehouses
    aren't stranded."""
    import warnings as _w

    import pytest as _pt

    from crest_spark.lakehouse import LakehouseCatalog

    cat = LakehouseCatalog(str(tmp_path / "wh"))
    with _pt.raises(ValueError):
        cat.create_namespace("_scratch")
    # simulate a pre-convention warehouse: namespace dir already on disk
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    import os

    os.makedirs(str(tmp_path / "wh" / "_old"), exist_ok=True)
    t = LakehouseCatalog(str(tmp_path / "wh")).table("tbl", "_old")
    t.create(df.schema)
    t.append(df)
    assert "_old" not in cat.list_namespaces()  # hidden from discovery
    assert cat.list_tables("_old") == ["tbl"]  # explicit listing works
    cat2 = LakehouseCatalog(str(tmp_path / "wh"))
    cat2._warned_reserved = set()  # fresh warning state
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        assert cat2.table("tbl", "_old").read(spark).count() == 1
        cat2.table("tbl", "_old")  # second call: no new warning
    msgs = [str(r.message) for r in rec if r.category is UserWarning]
    assert sum("reserved underscore prefix" in m for m in msgs) == 1
