"""Arrow Flight as a Spark source (batch + streaming Python Data Source).

Parity target: the reference's actual ingress path
(``/root/reference/pkg/ingestor/flight_reader.go``): discovery via
``ListFlights`` (:77-117), schema fetch via ``GetFlightInfo`` +
schema deserialization (:119-150), and per-endpoint ``DoGet`` ->
RecordReader batch streaming (:152-221). Re-expressed Spark-first:

- ``spark.read.format("crest_flight")`` — one-shot read of every
  currently listed flight (the reference's ReadBatches pass). Each
  endpoint ticket becomes one input partition whose executor task
  yields the ``DoGet`` stream's Arrow batches, so a backfill scans its
  endpoints in parallel across the cluster;
- ``spark.readStream.format("crest_flight")`` — continuous consumption:
  each micro-batch ingests the flights that appeared since the last
  checkpointed offset. The reference's 500 ms re-poll loop
  (``ingestor.go:131-152``) re-reads data at-least-once; here offsets
  are engine-checkpointed so each flight is consumed exactly once even
  across restarts.

Options:
  ``location``  grpc://host:port (required)
  ``prefix``    only consume flights whose '/'-joined descriptor path
                starts with this (the reference's per-view selection)
  ``maxFlightsPerTrigger``  streaming only: admit at most this many new
                flights per micro-batch (0 / unset = the whole backlog)

Offset model: flights are consumed in SORTED descriptor-path order and
the offset is the last path consumed (``{"last": "events/tick-0007"}``).
A producer must publish successive batches under increasing names
(tick-0001, tick-0002, ... — what changelog Flight servers do); names
sorting at or below the watermark are already consumed, so expiring old
flights server-side never shifts the offset, and an empty listing keeps
the watermark where it was.

Planner-side fetch: the stream reader is a ``SimpleDataSourceStreamReader``.
When the engine asks for the latest offset, ``read(start)`` lists the
flights once, admits the pending names past the watermark and fetches
them with ``DoGet`` inside the long-lived planner process; PySpark hands
those Arrow batches straight to the JVM, so a micro-batch runs no Python
executor task. Only a range the planner has not cached (a replay after a
restart) is fetched again, by ``readBetweenOffsets`` on an executor.
Memory contract: a micro-batch is at most ``maxFlightsPerTrigger``
flights. The planner holds the one being planned plus the last committed
one (PySpark's prefetch cache drops an entry only at the next commit),
and the driver's block manager holds the planned one until its batch
runs. ``availableNow`` asks for the latest offset
once, so it admits the whole listed backlog as one micro-batch whatever
the cap; bounded draining uses a processing-time trigger with
``processAllAvailable()`` (what ``IngestionService.run_once`` does), and
a backlog too large for one process is a backfill for the partitioned
batch reader.

Process-model constraint (same as table_stream.py): the class is
unpickled in dedicated Python workers with no sys.path/addPyFile — this
module stays self-contained (stdlib + pyspark + pyarrow) and registers
itself for cloudpickle pickle-by-value.

Register once per session: ``register_flight_source(spark)``.
"""

from __future__ import annotations

from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType


def _connect(location: str):
    import pyarrow.flight as fl

    return fl.connect(location)


def _path(info) -> str:
    return "/".join(p.decode() for p in info.descriptor.path)


def _list_endpoints(client, prefix: str) -> dict[str, list[bytes]]:
    """One ``ListFlights`` pass -> ``{path: [ticket, ...]}`` for every
    matching flight. The listing's FlightInfo objects already carry each
    flight's endpoints, so planning needs NO per-flight GetFlightInfo
    roundtrip — the reference re-fetches info per flight
    (flight_reader.go:119-150), an O(flights) serial driver loop at tens
    of thousands of flights. Servers that omit endpoints from listings
    get an individual resolution over the SAME connection (rare path)."""
    import pyarrow.flight as fl

    out: dict[str, list[bytes]] = {}
    for info in client.list_flights():
        path = _path(info)
        if not path.startswith(prefix):
            continue
        tickets = [ep.ticket.ticket for ep in info.endpoints]
        if not tickets:
            full = client.get_flight_info(
                fl.FlightDescriptor.for_path(*path.split("/"))
            )
            tickets = [ep.ticket.ticket for ep in full.endpoints]
        out[path] = tickets
    return out


def _read_ticket(client, ticket: bytes) -> Iterator:
    import pyarrow.flight as fl

    for chunk in client.do_get(fl.Ticket(ticket)):
        if chunk.data is not None and chunk.data.num_rows:
            yield chunk.data


class _TicketPartition(InputPartition):
    def __init__(self, location: str, ticket: bytes):
        self.location = location
        self.ticket = ticket


class CrestFlightStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict, schema: StructType):
        self.location = options["location"]
        self.prefix = options.get("prefix", "")
        # backpressure knob (the file source's maxFilesPerTrigger analog):
        # cap how many NEW flights one micro-batch may ingest, so a large
        # backlog drains in bounded batches instead of one giant catch-up
        # batch held in the planner. 0 / unset = unlimited.
        self.max_per_trigger = int(options.get("maxFlightsPerTrigger", "0"))
        self.schema = schema
        self._client = None  # opened lazily in the process that reads

    def __getstate__(self) -> dict:
        # readBetweenOffsets ships the reader to executors: a live gRPC
        # client does not pickle, each process opens its own
        return {**self.__dict__, "_client": None}

    def _call(self, fn):
        """``fn(client)`` on this reader's one Flight client. An idle
        stream lists the flights on every trigger, and a connection per
        poll costs a gRPC channel and its threads each time; a failed
        call drops the client so the next call reconnects."""
        if self._client is None:
            self._client = _connect(self.location)
        try:
            return fn(self._client)
        except Exception:
            client, self._client = self._client, None
            client.close()
            raise

    def _fetch(self, endpoints: dict[str, list[bytes]], paths: list[str]):
        """DoGet every endpoint of ``paths`` in order, as batches of the
        declared schema. The JVM checks prefetched batches against
        ``to_arrow_schema(schema)`` exactly: columns are selected by
        name, and the cast (safe: overflow raises, never truncates)
        turns a producer's naive ``timestamp[us]`` into Spark's UTC."""
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self.schema)

        def fetch(client) -> list:
            return [
                batch.select(target.names).cast(target)
                for path in paths
                for ticket in endpoints[path]
                for batch in _read_ticket(client, ticket)
            ]

        # a list iterator, not a generator: PySpark's prefetch cache
        # copy.copy()s it when the engine re-plans the same range
        return iter(self._call(fetch))

    def initialOffset(self) -> dict:
        # consume the server's whole backlog from the start: listed
        # flights ARE the data (unlike the table stream, where history
        # is served better by a batch read)
        return {"last": ""}

    def read(self, start: dict) -> tuple[Iterator, dict]:
        endpoints = self._call(lambda c: _list_endpoints(c, self.prefix))
        pending = sorted(p for p in endpoints if p > start["last"])
        if self.max_per_trigger > 0:
            pending = pending[: self.max_per_trigger]
        if not pending:
            return iter(()), start  # the watermark never moves backwards
        return self._fetch(endpoints, pending), {"last": pending[-1]}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator:
        endpoints = self._call(lambda c: _list_endpoints(c, self.prefix))
        paths = sorted(p for p in endpoints if start["last"] < p <= end["last"])
        return self._fetch(endpoints, paths)


class CrestFlightBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.location = options["location"]
        self.prefix = options.get("prefix", "")

    def partitions(self) -> Sequence[InputPartition]:
        with _connect(self.location) as client:
            endpoints = _list_endpoints(client, self.prefix)
        parts: list[InputPartition] = [
            _TicketPartition(self.location, t)
            for path in sorted(endpoints)
            for t in endpoints[path]
        ]
        return parts or [_TicketPartition(self.location, b"")]

    def read(self, partition: _TicketPartition) -> Iterator:  # executor-side
        if not partition.ticket:
            return
        with _connect(partition.location) as client:
            yield from _read_ticket(client, partition.ticket)


class CrestFlightDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "crest_flight"

    def schema(self) -> StructType:
        """GetFlightInfo schema fetch (flight_reader.go:119-150): the
        schema of the first listed flight, deserialized then converted
        to Spark types. Callers that know the schema up front can skip
        this roundtrip entirely with ``.schema(ddl)`` on the reader
        (letting a stream start against a server that has not published
        its first flight yet); this method only runs when no
        user-provided schema exists."""
        import pyarrow.flight as fl
        from pyspark.sql.pandas.types import from_arrow_schema

        location = self.options["location"]
        prefix = self.options.get("prefix", "")
        with _connect(location) as client:
            paths = sorted(
                p for p in map(_path, client.list_flights()) if p.startswith(prefix)
            )
            if not paths:
                raise FileNotFoundError(
                    f"no flights at {location} matching prefix {prefix!r}"
                )
            info = client.get_flight_info(
                fl.FlightDescriptor.for_path(*paths[0].split("/"))
            )
            return from_arrow_schema(info.schema)

    def reader(self, schema: StructType) -> CrestFlightBatchReader:
        return CrestFlightBatchReader(self.options)

    def simpleStreamReader(self, schema: StructType) -> CrestFlightStreamReader:
        return CrestFlightStreamReader(self.options, schema)


def register_flight_source(spark) -> None:
    """Register the ``crest_flight`` format on this session.

    Pickle-by-value is REQUIRED: the class is unpickled in dedicated
    Python workers that can't import this package."""
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    spark.dataSource.register(CrestFlightDataSource)
