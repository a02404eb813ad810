"""Arrow Flight source tests against an in-process FlightServerBase —
the reference's ingress path (flight_reader.go: ListFlights discovery,
GetFlightInfo schema fetch, per-endpoint DoGet) driven through Spark's
Python Data Source API, including the exactly-once-on-restart upgrade
over the reference's at-least-once repoll."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.flight as fl
import pyarrow.parquet as pq
import pytest

from crest_spark.sources.flight_source import register_flight_source
from crest_spark.sources.tables import table_path


class SliceFlightServer(fl.FlightServerBase):
    """Changelog-shaped Flight server: each published slice is one
    flight named ``<view>/tick-NNNN`` with a single endpoint whose
    ticket is the flight name (the reference's RisingWave-view layout,
    one level up: successive ticks are new flights, not re-reads)."""

    def __init__(self):
        super().__init__("grpc://127.0.0.1:0")
        self.tables: dict[str, pa.Table] = {}
        self.n_list_flights = 0  # RPC counters (in-process server)
        self.n_get_flight_info = 0

    @property
    def location(self) -> str:
        return f"grpc://127.0.0.1:{self.port}"

    def publish(self, name: str, table: pa.Table) -> None:
        self.tables[name] = table

    def _info(self, name: str) -> fl.FlightInfo:
        t = self.tables[name]
        desc = fl.FlightDescriptor.for_path(*name.split("/"))
        ep = fl.FlightEndpoint(name.encode(), [self.location])
        return fl.FlightInfo(t.schema, desc, [ep], t.num_rows, t.nbytes)

    def list_flights(self, context, criteria):
        self.n_list_flights += 1
        for name in sorted(self.tables):
            yield self._info(name)

    def get_flight_info(self, context, descriptor):
        self.n_get_flight_info += 1
        name = "/".join(p.decode() for p in descriptor.path)
        if name not in self.tables:
            raise fl.FlightUnavailableError(f"no flight {name}")
        return self._info(name)

    def do_get(self, context, ticket):
        return fl.RecordBatchStream(self.tables[ticket.ticket.decode()])


def _events_us(sf_dir: str) -> pa.Table:
    """events with timestamps cast ns->us (Flight carries Arrow types
    verbatim; Spark has no nanosecond timestamp)."""
    t = pq.read_table(table_path(sf_dir, "events"))
    schema = pa.schema(
        [
            pa.field(f.name, pa.timestamp("us"))
            if pa.types.is_timestamp(f.type)
            else f
            for f in t.schema
        ]
    )
    return t.cast(schema)


@pytest.fixture()
def server():
    srv = SliceFlightServer()
    yield srv
    srv.shutdown()


def _slices(t: pa.Table, n: int) -> list[pa.Table]:
    step = (t.num_rows + n - 1) // n
    return [t.slice(i * step, step) for i in range(n)]


def test_flight_batch_read_matches_source(spark, sf_dir, server):
    events = _events_us(sf_dir)
    for i, s in enumerate(_slices(events, 3)):
        server.publish(f"events/tick-{i:04d}", s)
    server.publish("other_view/tick-0000", events.slice(0, 5))

    register_flight_source(spark)
    df = (
        spark.read.format("crest_flight")
        .option("location", server.location)
        .option("prefix", "events/")
        .load()
    )
    # schema inferred via GetFlightInfo; rows exactly the 3 events slices
    assert df.count() == events.num_rows
    assert set(df.columns) == set(events.schema.names)
    got = sorted(r["event_id"] for r in df.select("event_id").collect())
    assert got == sorted(events.column("event_id").to_pylist())


def test_flight_stream_exactly_once_across_restart(spark, sf_dir, server, tmp_path):
    """S-parity: stream events through the Flight source into a lakehouse
    table; kill after the first drain, publish more flights, restart from
    the same checkpoint — every row lands exactly once (no dups from the
    restart overlap, no loss; the upgrade over ingestor.go's repoll)."""
    from crest_spark.lakehouse import LakehouseCatalog

    events = _events_us(sf_dir)
    slices = _slices(events, 4)
    for i, s in enumerate(slices[:2]):
        server.publish(f"events/tick-{i:04d}", s)

    register_flight_source(spark)
    catalog = LakehouseCatalog(str(tmp_path / "wh_flight"))

    def sink(df, batch_id):
        t = catalog.get_or_create_table("events_flight", df.schema)
        t.append(df, writer_id="flight.events", batch_id=batch_id)

    def drain():
        q = (
            spark.readStream.format("crest_flight")
            .option("location", server.location)
            .option("prefix", "events/")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt_flight"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()  # phase 1: first two flights
    t = catalog.table("events_flight")
    phase1 = t.read(spark).count()
    assert phase1 == sum(s.num_rows for s in slices[:2])

    for i, s in enumerate(slices[2:], start=2):
        server.publish(f"events/tick-{i:04d}", s)
    drain()  # phase 2: restart from checkpoint, only the new flights
    assert t.read(spark).count() == events.num_rows

    drain()  # phase 3: nothing new -> no dups
    assert t.read(spark).count() == events.num_rows
    ids = sorted(r["event_id"] for r in t.read(spark).select("event_id").collect())
    assert ids == sorted(events.column("event_id").to_pylist())


def test_flight_offset_ignores_expired_flights(spark, sf_dir, server, tmp_path):
    """Server-side GC of consumed flights must not re-shift offsets: the
    watermark is the last consumed NAME, so dropping older flights leaves
    the stream position intact."""
    events = _events_us(sf_dir)
    slices = _slices(events, 3)
    server.publish("events/tick-0000", slices[0])
    server.publish("events/tick-0001", slices[1])

    register_flight_source(spark)
    out: list[int] = []

    def sink(df, batch_id):
        out.append(df.count())

    def drain():
        q = (
            spark.readStream.format("crest_flight")
            .option("location", server.location)
            .option("prefix", "events/")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt_gc"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    del server.tables["events/tick-0000"]  # server expires a consumed flight
    server.publish("events/tick-0002", slices[2])
    drain()
    assert sum(out) == events.num_rows  # slice 3 delivered once, no replays


def test_ingestion_service_flight_source(spark, sf_dir, server, tmp_path):
    """Full pipeline parity: IngestionService wired to a Flight source —
    the reference's Flight -> Iceberg flow (ingestor.go:58-203) as one
    config entry, with the lakehouse sink's exactly-once batch ids."""
    from crest_spark.streaming.ingest import (
        IngestConfig,
        IngestionService,
        SourceSpec,
    )

    events = _events_us(sf_dir)
    for i, s in enumerate(_slices(events, 3)):
        server.publish(f"events/tick-{i:04d}", s)

    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh_svc"),
        checkpoint_root=str(tmp_path / "ckpt_svc"),
        sources=[
            SourceSpec(
                name="events",
                flight_location=server.location,
                flight_prefix="events/",
            )
        ],
    )
    svc = IngestionService(spark, cfg)
    svc.run_once()
    t = svc.catalog.table("events")
    assert t.read(spark).count() == events.num_rows
    svc2 = IngestionService(spark, cfg)
    svc2.run_once()  # nothing new: no dups
    assert t.read(spark).count() == events.num_rows


def test_ingestion_service_tolerates_empty_flight_server(
    spark, sf_dir, server, tmp_path
):
    """Service startup must not race the producer (the reference's
    ingestor repolls an empty server, ingestor.go:131-152): with a
    configured DDL schema the service starts against a flightless
    server immediately; without one, start() polls until the first
    flight appears within flight_start_timeout."""
    import threading
    import time as _time

    from crest_spark.streaming.ingest import (
        IngestConfig,
        IngestionService,
        SourceSpec,
    )

    # --- configured schema: starts with zero flights listed ---
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh_empty"),
        checkpoint_root=str(tmp_path / "ckpt_empty"),
        sources=[
            SourceSpec(
                name="v",
                flight_location=server.location,
                flight_prefix="v/",
                flight_schema="a BIGINT",
            )
        ],
    )
    IngestionService(spark, cfg).run_once()  # empty server: no crash
    t = pa.table({"a": list(range(10))})
    server.publish("v/tick-0000", t)
    svc = IngestionService(spark, cfg)
    svc.run_once()
    assert svc.catalog.table("v").read(spark).count() == 10

    # --- no schema: poll until the producer publishes ---
    cfg2 = IngestConfig(
        warehouse=str(tmp_path / "wh_poll"),
        checkpoint_root=str(tmp_path / "ckpt_poll"),
        flight_start_timeout=15.0,
        sources=[
            SourceSpec(
                name="w",
                flight_location=server.location,
                flight_prefix="w/",
            )
        ],
    )
    threading.Timer(
        1.0, lambda: server.publish("w/tick-0000", t)
    ).start()
    svc2 = IngestionService(spark, cfg2)
    svc2.run_once()  # start() polls through the empty window
    assert svc2.catalog.table("w").read(spark).count() == 10

    # --- no schema, nothing ever published: bounded failure ---
    cfg3 = IngestConfig(
        warehouse=str(tmp_path / "wh_never"),
        checkpoint_root=str(tmp_path / "ckpt_never"),
        flight_start_timeout=1.0,
        sources=[
            SourceSpec(name="x", flight_location=server.location,
                       flight_prefix="x/")
        ],
    )
    t0 = _time.monotonic()
    with pytest.raises(Exception, match="no flights"):
        IngestionService(spark, cfg3).start()
    assert _time.monotonic() - t0 < 10


def test_config_parses_flight_source(tmp_path):
    """YAML config wires a Flight source (the reference's flight.servers
    entry, config.go:29-33) into a SourceSpec; a source with neither
    path nor flight is rejected."""
    import pytest as _pytest

    from crest_spark.config import load_config

    cfg_file = tmp_path / "cfg.yaml"
    cfg_file.write_text(
        """
warehouse: data/wh
sources:
  - name: events
    flight: grpc://127.0.0.1:9999
    flightPrefix: events/
  - name: staged
    path: /staging/x
"""
    )
    cfg = load_config(str(cfg_file))
    f, s = cfg.ingest.sources
    assert f.flight_location == "grpc://127.0.0.1:9999"
    assert f.flight_prefix == "events/" and f.path is None
    assert s.path == "/staging/x" and s.flight_location is None

    cfg_file.write_text("sources:\n  - name: broken\n")
    with _pytest.raises(ValueError, match="path.*or.*flight"):
        load_config(str(cfg_file))


class MultiEndpointFlightServer(SliceFlightServer):
    """One flight fanned out over TWO endpoints (tickets '<name>#0' and
    '<name>#1', each serving half the rows) — the layout a sharded
    Flight service exposes, and what makes endpoint-level scan
    parallelism real."""

    def _info(self, name: str) -> fl.FlightInfo:
        t = self.tables[name]
        desc = fl.FlightDescriptor.for_path(*name.split("/"))
        eps = [
            fl.FlightEndpoint(f"{name}#{i}".encode(), [self.location])
            for i in range(2)
        ]
        return fl.FlightInfo(t.schema, desc, eps, t.num_rows, t.nbytes)

    def do_get(self, context, ticket):
        name, idx = ticket.ticket.decode().rsplit("#", 1)
        t = self.tables[name]
        half = (t.num_rows + 1) // 2
        part = t.slice(0, half) if idx == "0" else t.slice(half)
        return fl.RecordBatchStream(part)


def test_flight_multiple_endpoints_per_flight(spark, sf_dir):
    """Every endpoint of a flight becomes one input partition: a
    two-endpoint flight reads complete (both halves, no dup/loss) and
    scans as two partitions (the reference reads endpoints serially in
    one process — flight_reader.go:177; here they are parallel tasks)."""
    srv = MultiEndpointFlightServer()
    try:
        t = pa.table({"a": list(range(100))})
        srv.publish("v/tick-0000", t)
        register_flight_source(spark)
        df = (
            spark.read.format("crest_flight")
            .option("location", srv.location)
            .option("prefix", "v/")
            .load()
        )
        assert sorted(r["a"] for r in df.collect()) == list(range(100))
        assert df.rdd.getNumPartitions() == 2
    finally:
        srv.shutdown()


def test_flight_endpoint_resolution_is_one_listing_pass(spark, sf_dir, server):
    """Planning 200 flights must NOT issue 200 serial GetFlightInfo
    driver RPCs: the listing already carries every flight's endpoints,
    so a batch read costs one listing pass for planning (plus one
    GetFlightInfo for the schema fetch)."""
    t = pa.table({"a": list(range(200))})
    for i in range(200):
        server.publish(f"v/tick-{i:04d}", t.slice(i, 1))
    register_flight_source(spark)
    server.n_list_flights = server.n_get_flight_info = 0
    df = (
        spark.read.format("crest_flight")
        .option("location", server.location)
        .option("prefix", "v/")
        .load()
    )
    assert sorted(r["a"] for r in df.collect()) == list(range(200))
    assert server.n_get_flight_info <= 1  # schema fetch only
    assert server.n_list_flights <= 3  # schema + plan, never per-flight


def test_flight_offset_never_regresses_below_engine_position(server):
    """Restart + cap regression guard, driven through the reader's
    method contract exactly as the engine calls it: PySpark wraps the
    simple reader in its prefetch cache, and on a restart the engine
    reveals its checkpoint (setLatestSeenOffset, a partitions(ckpt,
    ckpt) call) before it asks for the latest offset. A restarted
    capped reader then (a) resumes past the checkpoint, never below it,
    (b) serves a re-plan of the same range with the same rows, and (c)
    keeps its watermark through an empty listing."""
    from pyspark.sql.datasource_internal import _streamReader
    from pyspark.sql.types import LongType, StructField, StructType

    from crest_spark.sources.flight_source import CrestFlightDataSource

    for i in range(6):
        server.publish(f"v/tick-{i:04d}", pa.table({"a": [i]}))
    opts = {
        "location": server.location,
        "prefix": "v/",
        "maxFlightsPerTrigger": "2",
    }
    schema = StructType([StructField("a", LongType())])

    def new_reader():
        return _streamReader(CrestFlightDataSource(opts), schema)

    def rows(it) -> list[int]:
        return [x for b in it for x in b.column("a").to_pylist()]

    def off(i: int) -> dict:
        return {"last": f"v/tick-{i:04d}"}

    # --- fresh stream: capped monotone progression ---
    r = new_reader()
    assert r.initialOffset() == {"last": ""}
    assert r.latestOffset() == off(1)
    assert rows(r.getCache({"last": ""}, off(1))) == [0, 1]
    assert r.latestOffset() == off(3)
    assert rows(r.getCache(off(1), off(3))) == [2, 3]

    # --- restarted reader, engine checkpoint at tick-0003 ---
    r = new_reader()
    r.partitions(off(3), off(3))  # the engine reveals its checkpoint
    assert r.latestOffset() == off(5)
    r.partitions(off(3), off(5))
    # only flights 4 and 5 are planned, never the committed 0-3
    assert rows(r.getCache(off(3), off(5))) == [4, 5]
    # re-planning the same range yields the same rows, from the cache
    # or, on a miss, from readBetweenOffsets
    assert rows(r.getCache(off(3), off(5))) == [4, 5]
    assert rows(r.simple_reader.readBetweenOffsets(off(3), off(5))) == [4, 5]
    # a replayed range that sorts below the checkpoint reads nothing new
    assert rows(r.simple_reader.readBetweenOffsets(off(3), off(1))) == []

    # --- nothing pending, then an empty listing: watermark pinned ---
    assert r.latestOffset() == off(5)
    server.tables.clear()
    assert r.latestOffset() == off(5)
    it, end = r.simple_reader.read(off(3))
    assert end == off(3) and rows(it) == []


def test_flight_reader_reuses_one_client(server):
    """The stream reader opens one Flight client lazily, keeps it out of
    its pickled state (readBetweenOffsets ships the reader to
    executors) and reopens it after a failed call."""
    import pickle

    from pyspark.sql.types import LongType, StructField, StructType

    from crest_spark.sources.flight_source import CrestFlightStreamReader

    server.publish("v/tick-0000", pa.table({"a": [1]}))
    r = CrestFlightStreamReader(
        {"location": server.location, "prefix": "v/"},
        StructType([StructField("a", LongType())]),
    )
    assert r._client is None  # nothing opened at construction
    r.read({"last": ""})
    client = r._client
    r.read({"last": ""})
    assert r._client is client  # idle polls share one connection
    assert pickle.loads(pickle.dumps(r))._client is None

    with pytest.raises(pa.ArrowException):  # do_get of an unknown ticket
        r._call(lambda c: list(c.do_get(fl.Ticket(b"v/missing"))))
    assert r._client is None  # the failed client was dropped
    it, end = r.read({"last": ""})
    assert end == {"last": "v/tick-0000"} and r._client is not client


def test_flight_capped_restart_exactly_once(spark, sf_dir, server, tmp_path):
    """Integration shape of the same defect: capped stream, stop, publish
    more, restart from the checkpoint — every row exactly once (a reader
    whose first capped end sorted below the checkpoint would re-ingest
    flights 2-3 after the restart)."""
    t = pa.table({"a": list(range(60))})
    for i in range(4):
        server.publish(f"v/tick-{i:04d}", t.slice(i * 10, 10))

    register_flight_source(spark)
    by_batch: dict[int, list[int]] = {}

    def sink(df, batch_id):
        rows = [r["a"] for r in df.collect()]
        if rows:
            by_batch[batch_id] = rows  # keyed: foreachBatch replays dedup

    def run() -> None:
        q = (
            spark.readStream.format("crest_flight")
            .option("location", server.location)
            .option("prefix", "v/")
            .option("maxFlightsPerTrigger", "2")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt_capre"))
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run()
    assert sum(len(v) for v in by_batch.values()) == 40
    for i in range(4, 6):
        server.publish(f"v/tick-{i:04d}", t.slice(i * 10, 10))
    run()
    flat = sorted(x for v in by_batch.values() for x in v)
    assert flat == list(range(60))


def test_flight_max_flights_per_trigger(spark, sf_dir, server, tmp_path):
    """Backpressure: with maxFlightsPerTrigger=2 a 6-flight backlog
    drains in >= 3 bounded micro-batches (never one giant catch-up
    batch), and every row still arrives exactly once."""
    t = pa.table({"a": list(range(60))})
    for i in range(6):
        server.publish(f"v/tick-{i:04d}", t.slice(i * 10, 10))

    register_flight_source(spark)
    batches: list[int] = []

    def sink(df, batch_id):
        n = df.count()
        if n:
            batches.append(n)

    q = (
        spark.readStream.format("crest_flight")
        .option("location", server.location)
        .option("prefix", "v/")
        .option("maxFlightsPerTrigger", "2")
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_bp"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sum(batches) == 60  # exactly once, nothing lost
    assert len(batches) >= 3  # bounded batches: at most 2 flights each
    assert max(batches) <= 20


def test_ingestion_service_run_once_drains_capped_backlog(
    spark, server, tmp_path
):
    """run_once caps every Flight micro-batch at files_per_trigger
    flights and still drains the whole backlog: availableNow would ask
    for the latest offset once and strand everything past the first
    cap's worth of flights."""
    from crest_spark.streaming.ingest import (
        IngestConfig,
        IngestionService,
        SourceSpec,
    )

    t = pa.table({"a": list(range(60))})
    for i in range(6):
        server.publish(f"v/tick-{i:04d}", t.slice(i * 10, 10))
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        sources=[
            SourceSpec(
                name="v",
                flight_location=server.location,
                flight_prefix="v/",
                flight_schema="a BIGINT",
                files_per_trigger=2,
            )
        ],
    )
    svc = IngestionService(spark, cfg)
    svc.run_once()
    table = svc.catalog.table("v")
    got = sorted(r["a"] for r in table.read(spark).collect())
    assert got == list(range(60))  # exactly once, nothing stranded
    appends = [s for s in table.snapshots() if s.batch_id is not None]
    assert len(appends) >= 3
    assert max(s.num_rows for s in appends) <= 20
    assert svc.queries == []  # drained queries are stopped


def test_flight_stream_timestamps_match_batch_read(
    spark, sf_dir, server, tmp_path
):
    """A producer's naive timestamp[us] column is cast to Spark's UTC
    Arrow type before the planner hands it to the JVM: the streamed
    rows equal what the partitioned batch reader returns."""
    events = _events_us(sf_dir)
    assert events.schema.field("ts").type == pa.timestamp("us")
    for i, s in enumerate(_slices(events, 2)):
        server.publish(f"events/tick-{i:04d}", s)

    register_flight_source(spark)
    streamed: list = []

    def sink(df, batch_id):
        streamed.extend(df.collect())

    q = (
        spark.readStream.format("crest_flight")
        .option("location", server.location)
        .option("prefix", "events/")
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_ts"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batch = (
        spark.read.format("crest_flight")
        .option("location", server.location)
        .option("prefix", "events/")
        .load()
        .collect()
    )
    def by_id(rows) -> dict:
        return {r["event_id"]: r for r in rows}

    assert len(streamed) == events.num_rows
    assert by_id(streamed) == by_id(batch)
    assert all(r["ts"] is not None for r in streamed)


def test_full_pipeline_flight_to_matview(spark, sf_dir, server, tmp_path):
    """The complete crest pipeline in one test, Spark-first: a changelog
    Flight server feeds the exactly-once ingestion service into a
    lakehouse table, and an incremental materialized view rolls the
    table up — each wave of flights flows through ingest + refresh and
    the view must equal a one-shot recompute of the whole table (the
    RisingWave-MV role downstream of the reference's ingestor)."""
    from pyspark.sql import functions as F

    from crest_spark.lakehouse import LakehouseCatalog
    from crest_spark.lakehouse.matview import AggSpec, IncrementalAggView
    from crest_spark.streaming.ingest import (
        IngestConfig,
        IngestionService,
        SourceSpec,
    )

    events = _events_us(sf_dir)
    slices = _slices(events, 4)
    cfg = IngestConfig(
        warehouse=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        sources=[
            SourceSpec(
                name="events",
                flight_location=server.location,
                flight_prefix="events/",
                files_per_trigger=1,
            )
        ],
        max_rows_per_batch=100_000,
    )
    svc = IngestionService(spark, cfg)
    catalog = LakehouseCatalog(str(tmp_path / "wh"))
    view = IncrementalAggView(
        catalog,
        source="events",
        name="events_by_user",
        group_by=["user_id"],
        aggs={
            "n": AggSpec("count"),
            "sum_value": AggSpec("sum", "value"),
            "max_value": AggSpec("max", "value"),
        },
    )
    total = 0
    for wave, (i, sl) in zip((2, 4), enumerate([slices[:2], slices[2:]])):
        for j, s in enumerate(sl):
            server.publish(f"events/tick-{i * 2 + j:04d}", s)
            total += s.num_rows
        svc.run_once()
        t = catalog.table("events")
        assert t.read(spark).count() == total
        view.refresh(spark)
        got = {
            r["user_id"]: (r["n"], r["sum_value"], r["max_value"])
            for r in view.read(spark).collect()
        }
        want = {
            r["user_id"]: (r["n"], r["sum_value"], r["max_value"])
            for r in t.read(spark)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").alias("sum_value"),
                F.max("value").alias("max_value"),
            )
            .collect()
        }
        assert set(got) == set(want)
        for u in want:
            assert got[u][0] == want[u][0]
            assert got[u][2] == want[u][2]
            assert abs(got[u][1] - want[u][1]) < 1e-6
    assert total == events.num_rows


def test_full_pipeline_flight_upsert_cdf_to_matview(
    spark, sf_dir, server, tmp_path
):
    """The CDC-shaped pipeline end to end: a Flight server publishes
    out-of-order change waves, the ingestion service upserts them by key
    (sequence-conditioned, change sets staged), and a downstream
    incremental view folds the change feed — after every wave the view
    equals a recompute over the upserted table."""
    from pyspark.sql import functions as F

    from crest_spark.lakehouse import LakehouseCatalog
    from crest_spark.lakehouse.matview import AggSpec, IncrementalAggView
    from crest_spark.streaming.ingest import (
        IngestConfig,
        IngestionService,
        SourceSpec,
    )

    events = _events_us(sf_dir)
    # wave 1: even event_ids; wave 2: ALL rows with bumped values (an
    # update for every even key, an insert for every odd one)
    import pyarrow.compute as pc

    w1 = events.filter(pc.equal(pc.bit_wise_and(events["event_id"], 1), 0))
    w2 = events.set_column(
        events.schema.get_field_index("value"),
        "value",
        pc.add(events["value"], 100.0),
    )
    cfg = IngestConfig(
        warehouse=str(tmp_path / "whf"),
        checkpoint_root=str(tmp_path / "ckptf"),
        sources=[
            SourceSpec(
                name="ev_latest",
                flight_location=server.location,
                flight_prefix="ev/",
                files_per_trigger=4,
                mode="upsert",
                key="event_id",
                sequence_col="ts",
                change_feed=True,
            )
        ],
        max_rows_per_batch=100_000,
    )
    catalog = LakehouseCatalog(str(tmp_path / "whf"))
    view = IncrementalAggView(
        catalog,
        source="ev_latest",
        name="ev_latest_agg",
        group_by=["event_type"],
        aggs={"n": AggSpec("count"), "s": AggSpec("sum", "value")},
    )

    def check(t):
        want = {
            r["event_type"]: (r["n"], round(r["s"], 6))
            for r in t.read(spark)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
            .collect()
        }
        got = {
            r["event_type"]: (r["n"], round(r["s"], 6))
            for r in view.read(spark).collect()
            if r["n"] > 0
        }
        assert got == want

    server.publish("ev/tick-0000", w1)
    IngestionService(spark, cfg).run_once()
    view.refresh(spark)
    check(catalog.table("ev_latest"))

    server.publish("ev/tick-0001", w2)
    IngestionService(spark, cfg).run_once()
    t = catalog.table("ev_latest")
    # table converged: one row per event, updated values won by sequence
    assert t.read(spark).count() == events.num_rows
    view.refresh(spark)
    check(t)
