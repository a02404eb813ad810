"""Micro-batch ingestion service: streaming sources -> lakehouse tables.

The Spark-native re-expression of the reference's entire pipeline
(``/root/reference/pkg/ingestor/ingestor.go:58-203``):

  reference (Go)                         this module (Structured Streaming)
  -----------------------------------   ----------------------------------
  Flight ListFlights source discovery    discover_sources(): staged dirs /
    (flight_reader.go:77-117)              configured tables
  500ms ticker re-poll, NO offsets       file-source + checkpointed offsets
    (ingestor.go:131-152, dup-prone)       (exactly-once, the defect fix)
  batchChan/commitChan 3-stage async     the micro-batch engine itself
    (ingestor.go:51-52, 156-203)
  WriteBatch parquet file per batch      foreachBatch -> LakehouseTable
    (batch_writer.go:86-124)               .append(df, writer_id, batch_id)
  CommitBatch Iceberg txn per file       the same append's atomic log commit
    (iceberg_committer.go:122-147)
  log-and-drop on error                  query fails -> restart from
    (ingestor.go:167-170: data loss)       checkpoint, idempotent re-commit
  batching config never enforced         trigger(processingTime)/availableNow
    (config.go:41-44, O20)                 + maxFilesPerTrigger, enforced
  metrics config, no implementation      StreamingQueryListener -> JSONL
    (config.go:53-57, O21)                 (metrics.py)
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from crest_spark.lakehouse.catalog import LakehouseCatalog
from crest_spark.sources.tables import normalize_ns_timestamps


@dataclass
class SourceSpec:
    """One streaming source -> one target table (reference: one goroutine
    per (server, view), ``ingestor.go:87-96``).

    Either a staged parquet dir (``path``) or an Arrow Flight server
    (``flight_location`` [+ ``flight_prefix``] — the reference's actual
    ingress, flight_reader.go, served by ``sources/flight_source.py``)."""

    name: str  # target table name
    path: str | None = None  # staged parquet dir (file source)
    files_per_trigger: int = 1
    namespace: str | None = None
    flight_location: str | None = None  # grpc://host:port
    flight_prefix: str | None = None  # descriptor-path filter (view name)
    # DDL schema for the flight stream (e.g. "id BIGINT, v DOUBLE"):
    # lets the service start before the producer publishes its first
    # flight (otherwise the schema is fetched from the first listed
    # flight, polling briefly like the reference's 500 ms repoll loop)
    flight_schema: str | None = None
    # range-cluster each committed batch on these columns (the write-side
    # partitioning knob: tight per-file min/max stats -> O(1)-file scans
    # on the cluster key; see LakehouseTable.append(cluster_by=...))
    cluster_by: list[str] | None = None
    # record per-file Bloom filters over these columns on every committed
    # batch (point-lookup skipping on non-clustered high-cardinality
    # columns; see LakehouseTable.append(bloom_for=...))
    bloom_for: list[str] | None = None
    # CDC ingestion mode: 'append' (default, the reference's changelog
    # semantics) or 'upsert' — each micro-batch MERGEs into the target by
    # ``key``, ordered by ``sequence_col`` (both required for upsert).
    # The table converges to one row per key with the latest change;
    # re-delivered batches are state-idempotent because the merge is
    # sequence-conditioned (an old change can never regress a key).
    mode: str = "append"
    key: str | list[str] | None = None  # upsert merge key (composite OK)
    sequence_col: str | None = None
    # CDC tombstones: boolean-ish column marking a change as a DELETE of
    # its key (Debezium op='d'). Metadata only — never lands in the table.
    delete_col: str | None = None
    # Derived columns, computed per micro-batch BEFORE schema pinning and
    # mode handling: {column: Spark SQL expression}, applied in order so
    # later expressions may reference earlier ones. This is the ingest-time
    # transform hook (generated columns): upsert ``key``/``sequence_col``
    # may name a derived column, which makes e.g. streaming exact-dedup a
    # pure config recipe (key: a content hash, sequenceCol: a first-seen
    # priority) with no custom sink code.
    derive: dict[str, str] | None = None
    # upsert mode only: stage each merge's row-level change set (Delta
    # CDF) so downstream incremental views keep maintaining over this
    # table's upserts instead of requiring full refreshes.
    change_feed: bool = False
    # upsert mode only: 'cow' (default) rewrites touched files per
    # micro-batch; 'mor' commits merge-on-read row deltas (no data file
    # rewritten — the hot-key CDC shape; fold with `cli maintain`/
    # compact); 'auto' switches to MoR past the touched-file threshold
    # unless the batch's key set is backfill-sized. MoR deltas are
    # sequence-aware (the scan resolves contested keys to the per-key
    # winner by sequence value), so out-of-order or re-delivered
    # micro-batches converge exactly as under CoW, and they compose
    # with change_feed (the merge reads the touched region to stage
    # the change set, but still rewrites nothing).
    merge_strategy: str = "cow"
    # Data-quality expectations, evaluated per micro-batch AFTER derive
    # (so rules may reference derived columns): {rule_name: SQL boolean
    # expression}. A row violates a rule when the expression is FALSE or
    # NULL (NULL data is exactly what expectations exist to catch, so
    # unknown != pass). Violating rows never reach the target table;
    # what happens to them is on_violation:
    #   'quarantine' (default) — append to <table>__quarantine with a
    #       _violated array column naming the failed rules and the
    #       originating _batch_id (same idempotent writer/batch-id
    #       protocol as the main sink, so replays never double-
    #       quarantine);
    #   'drop' — discard silently (count still observable via metrics
    #       table row counts);
    #   'fail' — raise, killing the stream: the poison-batch guard for
    #       sources where bad data means upstream breakage, not noise.
    # The reference ingests blind (batch_writer.go trusts every record);
    # at 100 TB a quality gate must run INSIDE the write path — a
    # post-hoc audit query re-scans the table every time.
    expect: dict[str, str] | None = None
    on_violation: str = "quarantine"
    # Write-audit-publish (append mode only): commit every micro-batch
    # STAGED — rows are invisible to readers until an audit job validates
    # `table.read_staged(...)` and calls `publish_staged()` (or
    # `cli maintain --publish`). The batch-level complement to `expect`:
    # expectations gate individual rows inline; WAP holds the whole batch
    # for an out-of-band check (an aggregate-level validation, a human
    # sign-off) before any reader can see it.
    stage: bool = False
    # Branch ingestion (append mode only): commit every micro-batch to a
    # named branch ref — the MULTI-batch generalization of `stage`. The
    # whole experiment/backfill pipeline runs invisible to main for as
    # long as it needs, is audited via `table.read_branch(...)`, and
    # lands atomically with `fast_forward` (or dies with `drop_branch`).
    # The branch is created on first use. Mutually exclusive with stage.
    branch: str | None = None
    # Batch-level AGGREGATE expectations, evaluated on the clean rows
    # (after derive and the row-level expect split): {rule_name: SQL
    # aggregate boolean, e.g. "COUNT(*) >= 10 AND AVG(value) < 1e6"}.
    # FALSE or NULL violates. Row rules catch bad records; batch rules
    # catch bad BATCHES (a truncated upload, a unit change shifting the
    # mean, a schema-correct-but-empty feed) that no per-row predicate
    # can see. on_batch_violation:
    #   'fail' (default) — kill the stream (poison-batch guard);
    #   'skip' — drop the whole batch (it is consumed and checkpointed:
    #       the data is gone; use for feeds where a bad batch is noise);
    #   'stage' — divert the batch to a WAP STAGED commit instead of a
    #       live append: nothing is lost, nothing is visible, and the
    #       audit decides via publish_staged/discard_staged (append
    #       mode only — a merge cannot be staged).
    expect_batch: dict[str, str] | None = None
    on_batch_violation: str = "fail"
    # Maintained secondary indexes (append mode only; incompatible with
    # stage/branch/on_batch_violation='stage' — see check_source,
    # since indexed batches must land LIVE on main): after each
    # committed micro-batch, derive-style index maintenance runs under
    # the same (writer, batch)-id idempotence protocol as the main sink
    # — a replayed micro-batch signs/adds exactly once, including a
    # replayed FIRST batch (the index build stamps its batch id via a
    # zero-row marker append). The crest-parity
    # end state: source -> Iceberg table -> maintained dedup/ANN indexes,
    # all inside one exactly-once write path. Each spec is a dict:
    #   {"kind": "minhash", "name": ..., "id_col": "doc_id",
    #    "text_col": "text", "mine_pairs": True,
    #    "compact_after_files": N, "compact_target_files": M}
    #     signs ONLY the batch's docs into a (band, sig)-clustered
    #     signature index (minhash_index_append — the sign-once
    #     contract) and, when mine_pairs, mines this arrival's verified
    #     near-dup pairs (new-vs-index + new-vs-new, join-reduced cap,
    #     candidate-id pruned verify fetch) into <name>__pairs. The
    #     pairs table accumulates exactly the batch miner's pair set
    #     over the ingested corpus
    #     (test_streaming.py::test_ingest_maintains_minhash_index).
    #     compact_after_files (default: the config-level value)
    #     SIG-sorts the index once its UNCLUSTERED TAIL reaches N files
    #     — micro-batch appends have corpus-wide per-file sig spans, so
    #     without periodic re-clustering the bucket-key pruned fetch
    #     stops skipping files as batches accrete. The rewrite is
    #     TAIL-ONLY (r13): only files outside the existing sorted runs
    #     are re-sorted into a new run; prior runs ride by reference
    #     (geometrically merged past max_cluster_runs), so the
    #     serial-hook cost is O(threshold batches), never O(index). The
    #     pairs table LSM bin-packs under the same threshold.
    #
    #     LAYOUT CONTRACT for ivf/ivfpq compaction: every run file
    #     stays SINGLE-VALUED on `cell` — per-file point [min,max]
    #     stats are what let a probe open only the probed cells' files.
    #     The add's tail rewrite therefore always clusters with
    #     cluster_partitions = the index's n_cells (one file per
    #     touched cell per run; a probe opens <= max_cluster_runs
    #     files per cell), under compact_after_files and
    #     max_cluster_runs. compact_target_files has no effect there,
    #     so check_source rejects it on an ivf/ivfpq spec.
    #   {"kind": "ivf", "name": ..., "id_col": "vec_id",
    #    "vec_col": "embedding"}
    #     FAISS add-split: the first batch builds the IVF index, later
    #     batches assign only their own vectors to the frozen centroids
    #     (ivf_add).
    #   {"kind": "ivfpq", ...same keys...}
    #     the codes-only composite: first batch builds (build_ivfpq_index),
    #     later batches encode only their own vectors against the frozen
    #     centroids+codebooks (ivfpq_add).
    #
    #     DRIFT REBUILDS ARE OFF-PATH (r14, VERDICT r13 #1): past
    #     "recluster_threshold" (fraction of the index changed since
    #     the last build, default 0.5) the hook does NOT rebuild —
    #     inline k-means + re-encode over the full corpus inside the
    #     serial foreachBatch hook is an O(corpus) ingestion stall,
    #     hours at 100 TB. The adds stamp drift markers (observable
    #     via rebuild_pending) and the build stamps its source binding
    #     + threshold, so `cli maintain --table ns.<index>
    #     --rebuild-indexes` (or any side job calling
    #     rebuild_if_drifted) re-fits off-path and publishes with a
    #     conditional replace; micro-batches that land DURING the
    #     rebuild keep committing and are delta-repaired into the new
    #     index before publish. Crash anywhere before publish: old
    #     index stays probeable, drift markers persist, rebuild
    #     re-triggers.
    indexes: list[dict] | None = None
    # Provenance columns stamped at ingest: `_source_file` (the staged
    # file each row came from — file sources only; Flight streams have
    # no file identity) and `_ingest_batch` (the micro-batch id). The
    # columns land in the table schema, so a quarantined or suspect row
    # traces back to the exact upload that produced it — the question
    # every data incident starts with. Derived/expectation rules may
    # reference them (lineage is stamped first).
    lineage: bool = False


_INDEX_KINDS = ("minhash", "ivf", "ivfpq")


def check_source(spec: SourceSpec) -> None:
    """Every rule on one source's configuration; raises ValueError on
    the first broken one. ``load_config`` runs it on each YAML source
    and ``IngestionService._sink`` on each spec it serves, so a
    programmatic ``SourceSpec`` gets the same checks as YAML, before
    any batch commits.

    Maintained indexes require every committed batch to be LIVE the
    moment it lands: a staged / branched / stage-diverted batch would
    be signed into the index while invisible on main (there is no
    publish-time maintenance hook), so those combinations are config
    errors rather than a silent index/table divergence."""
    s = spec
    rules = (
        (s.path is None and s.flight_location is None,
         "needs either 'path' or 'flight'"),
        (s.mode not in ("append", "upsert"), f"unknown mode {s.mode!r}"),
        (s.mode == "upsert" and (s.key is None or s.sequence_col is None),
         "mode 'upsert' requires 'key' and 'sequenceCol' (CDC ordering "
         "column)"),
        (s.merge_strategy not in ("cow", "mor", "auto"),
         f"mergeStrategy {s.merge_strategy!r} (cow | mor | auto)"),
        (s.on_violation not in ("quarantine", "drop", "fail"),
         f"onViolation {s.on_violation!r} (quarantine | drop | fail)"),
        (s.stage and s.mode == "upsert",
         "'stage' (write-audit-publish) applies to append mode; an upsert "
         "merge cannot be staged"),
        (s.on_batch_violation not in ("fail", "skip", "stage"),
         f"onBatchViolation {s.on_batch_violation!r} (fail | skip | stage)"),
        (s.on_batch_violation == "stage" and s.mode == "upsert",
         "onBatchViolation 'stage' applies to append mode; an upsert merge "
         "cannot be staged"),
        (s.branch and s.mode == "upsert",
         "'branch' ingestion applies to append mode; branches are "
         "append-only refs"),
        (s.branch and s.on_batch_violation == "stage",
         "onBatchViolation 'stage' cannot divert a branch source (commits "
         "are already invisible on the branch); use 'fail' or 'skip'"),
        (s.branch and s.stage,
         "'branch' and 'stage' are mutually exclusive (a branch IS the "
         "multi-batch staging form)"),
    )
    for broken, problem in rules:
        if broken:
            raise ValueError(f"source {s.name}: {problem}")
    if not s.indexes:
        return
    for idx in s.indexes:
        kind = idx.get("kind")
        if kind not in _INDEX_KINDS:
            raise ValueError(
                f"source {s.name}: unknown index kind {kind!r}; known: "
                + ", ".join(_INDEX_KINDS)
            )
        if kind != "minhash" and "compact_target_files" in idx:
            raise ValueError(
                f"source {s.name}: compact_target_files does not apply to "
                f"the {kind} index {_index_name(s, idx)!r}: its tail "
                "compaction writes one file per cell; drop the key"
            )
    problems = [
        problem
        for broken, problem in (
            (s.mode != "append", "mode must be 'append'"),
            (s.stage, "stage=True"),
            (s.branch, f"branch={s.branch!r}"),
            (s.expect_batch and s.on_batch_violation == "stage",
             "on_batch_violation='stage'"),
        )
        if broken
    ]
    if problems:
        raise ValueError(
            f"source {s.name!r}: indexes are incompatible with "
            + ", ".join(problems)
            + " (indexed batches must land live on main)"
        )


def _index_name(source: SourceSpec, spec: dict) -> str:
    """The table name of one of ``source``'s maintained indexes."""
    return spec.get("name", f"{source.name}__{spec['kind']}_idx")


@dataclass
class IngestConfig:
    """Mirrors the reference's YAML surface (``pkg/config/config.go:60-89``)
    with its defaults: local storage path, namespace "default", batching
    limits — here actually enforced."""

    warehouse: str
    checkpoint_root: str
    namespace: str = "default"
    # processing-time trigger of start(); None => drain once & stop
    # (run_once always drains)
    trigger_interval: str | None = None
    # hard per-file row cap of every append-mode commit (the writer's
    # max_rows_per_file): batching.maxRows, enforced
    max_rows_per_batch: int = 1000
    sources: list[SourceSpec] = field(default_factory=list)
    # Auto-compaction: when this many of a table's live files sit outside
    # its sorted runs, the sink rewrites that tail into
    # compact_target_files before the next append
    # (LakehouseTable.compact_tail). None disables. Micro-batch ingestion with a hard per-file
    # row cap necessarily accretes small files; at object-storage scale
    # unbounded file counts degrade every subsequent scan's listing and
    # open cost, so compaction must be part of the write path, not a
    # manual afterthought.
    compact_after_files: int | None = None
    compact_target_files: int = 4
    # Live sorted/packed runs a tail-only compaction may leave before
    # merging the smallest ones (compact(max_cluster_runs=...)): total
    # steady-state file count ~ max_runs x target + threshold, probe
    # amplification <= max_runs files per key, write amplification
    # O(log) per row. Spec-level "max_cluster_runs" overrides per index.
    compact_max_runs: int = 4
    # Z-order the compaction rewrite on these columns (OPTIMIZE ZORDER
    # analog): the periodic rewrite doubles as clustering maintenance, so
    # scan-heavy tables stay skippable without a separate job.
    compact_zorder_by: list[str] | None = None
    # How long start() polls a Flight server that lists no flights yet
    # before giving up (only used when the source has no flight_schema).
    # The reference's ingestor tolerates an empty server indefinitely
    # via its 500 ms repoll (ingestor.go:131-152); a bounded wait keeps
    # misconfigured locations from hanging startup forever.
    flight_start_timeout: float = 10.0
    # Self-maintained drift rebuilds (r14): when set, start() also runs
    # a daemon MAINTENANCE thread that every this-many seconds checks
    # each maintained ivf/ivfpq index for drift past its stamped
    # threshold and runs the staged rebuild (rebuild_if_drifted) —
    # the in-process form of `cli maintain --rebuild-indexes`. The
    # thread races the serial foreachBatch hook BY DESIGN: the
    # rebuild's conditional publish + bounded-delta repair and the
    # hook's coverage-skip rule are exactly the protocol that makes
    # the race safe (micro-batches keep committing throughout). None
    # (default) leaves rebuilds to the external maintenance job.
    index_rebuild_interval: float | None = None


class IngestionService:
    """Runs one streaming query per source into lakehouse tables."""

    def __init__(
        self, spark: SparkSession, config: IngestConfig, metadata_catalog=None
    ):
        self.spark = spark
        self.config = config
        self.catalog = LakehouseCatalog(config.warehouse, config.namespace)
        # Optional external metadata catalog (an Iceberg REST client): the
        # reference's flow registers every table at Lakekeeper while the
        # files land in the warehouse (iceberg_committer.go:54-119). The
        # local commit log stays the source of truth; REST registration is
        # mirror metadata, retried per batch until it succeeds so a
        # catalog outage never drops data (the reference logs-and-drops).
        self.metadata_catalog = metadata_catalog
        self._registered: set[tuple[str, str]] = set()
        self.queries = []

    def _register_metadata(self, ns: str, name: str, schema) -> None:
        if self.metadata_catalog is None or (ns, name) in self._registered:
            return
        try:
            self.metadata_catalog.get_or_create_table(ns, name, schema)
            self._registered.add((ns, name))
        except Exception as exc:  # noqa: BLE001 — outage must not drop data
            import logging

            logging.getLogger(__name__).warning(
                "metadata catalog registration failed for %s.%s (will retry "
                "next batch): %s", ns, name, exc
            )

    def _namespace(self, source: SourceSpec) -> str:
        return source.namespace or self.config.namespace

    def _sink(self, source: SourceSpec):
        check_source(source)
        catalog = self.catalog
        ns = self._namespace(source)
        writer_id = f"ingest-{ns}.{source.name}"
        max_rows = max(1, self.config.max_rows_per_batch)

        compact_after = self.config.compact_after_files
        compact_target = max(1, self.config.compact_target_files)
        # default the rewrite clustering to the source's own cluster
        # keys: a plain repartition compaction would silently DESTROY
        # the per-file key ranges every append paid for (and with them
        # the pruned point-lookup / verify-fetch paths) — the rewrite
        # must preserve at least the layout the ingest policy promised
        compact_zorder = self.config.compact_zorder_by or source.cluster_by

        def write_batch(df, batch_id: int) -> None:
            if source.lineage:
                from pyspark.sql import functions as F

                if "_source_file" not in df.columns:
                    # file sources select _metadata upstream (start());
                    # non-file sources stamp only the batch id
                    df = df.withColumn("_source_file", F.lit(None).cast("string"))
                df = df.withColumn("_ingest_batch", F.lit(batch_id).cast("long"))
            if source.derive:
                from pyspark.sql import functions as F

                # ingest-time generated columns; dict order is declaration
                # order, so expressions may build on one another
                for col, expr in source.derive.items():
                    df = df.withColumn(col, F.expr(expr))
            if source.expect:
                from pyspark.sql import functions as F

                # one vectorized pass marks each row with the rules it
                # violates (FALSE or NULL both violate); the split below
                # is two cheap filters over the micro-batch
                labels = F.array_compact(
                    F.array(
                        *[
                            F.when(
                                ~F.coalesce(
                                    F.expr(rule_expr).cast("boolean"),
                                    F.lit(False),
                                ),
                                F.lit(rule_name),
                            )
                            for rule_name, rule_expr in source.expect.items()
                        ]
                    )
                )
                marked = df.withColumn("_violated", labels)
                bad = marked.where(F.size("_violated") > 0)
                if source.on_violation == "fail":
                    n_bad = bad.count()
                    if n_bad:
                        sample = bad.select("_violated").first()[0]
                        raise ValueError(
                            f"expectation violation in {ns}.{source.name} "
                            f"batch {batch_id}: {n_bad} row(s), e.g. rules "
                            f"{sample} (on_violation='fail')"
                        )
                elif source.on_violation == "quarantine" and not bad.isEmpty():
                    qtable = catalog.get_or_create_table(
                        f"{source.name}__quarantine", bad.schema, ns
                    )
                    # same idempotence protocol as the main sink: a
                    # replayed micro-batch quarantines exactly once
                    qtable.append(
                        bad,
                        writer_id=f"{writer_id}-quarantine",
                        batch_id=batch_id,
                        merge_schema=True,
                    )
                # clean rows continue through mode handling unchanged
                df = marked.where(F.size("_violated") == 0).drop("_violated")
            stage_this = source.stage
            if source.expect_batch:
                from pyspark.sql import functions as F

                checks = df.agg(
                    *[
                        F.coalesce(
                            F.expr(rule_expr).cast("boolean"), F.lit(False)
                        ).alias(rule_name)
                        for rule_name, rule_expr in source.expect_batch.items()
                    ]
                ).first()
                broken = [n for n in source.expect_batch if not checks[n]]
                if broken:
                    if source.on_batch_violation == "fail":
                        raise ValueError(
                            f"batch expectation violation in "
                            f"{ns}.{source.name} batch {batch_id}: rules "
                            f"{broken} (on_batch_violation='fail')"
                        )
                    if source.on_batch_violation == "skip":
                        return  # whole batch dropped; offset still commits
                    stage_this = True  # 'stage': divert to a WAP commit
            # auto-create on first batch: schema taken off the batch, the
            # reference's pin-at-first-write (batch_writer.go:61-83).
            # A CDC tombstone column is batch metadata, not table schema.
            pin_schema = (
                df.drop(source.delete_col).schema
                if source.delete_col is not None
                else df.schema
            )
            table = catalog.get_or_create_table(source.name, pin_schema, ns)
            self._register_metadata(ns, source.name, pin_schema)
            # Compact BEFORE appending (not after): the foreachBatch hook
            # runs serially per source, so this replace commit can never
            # race this writer's own appends, and checking first keeps the
            # just-written batch out of the rewrite churn. Only the
            # unclustered tail is rewritten (prior sorted runs ride by
            # reference), so the serial hook pays O(threshold batches),
            # never a whole-table sort; bloom_for re-records the per-file
            # Bloom filters the appends paid for.
            table.compact_tail(
                df.sparkSession,
                compact_after,
                target_partitions=compact_target,
                zorder_by=compact_zorder,
                bloom_for=source.bloom_for,
                max_cluster_runs=self.config.compact_max_runs,
            )
            if source.mode == "upsert":
                # CDC upsert: reduce the batch to its per-key winner
                # (highest sequence), then sequence-conditioned MERGE —
                # convergent under replay and out-of-order delivery
                # (test_merge_sequence_out_of_order_converges)
                from pyspark.sql import functions as F
                from pyspark.sql.window import Window

                w = Window.partitionBy(source.key).orderBy(
                    F.desc(source.sequence_col)
                )
                latest = (
                    df.withColumn("_rn", F.row_number().over(w))
                    .where(F.col("_rn") == 1)
                    .drop("_rn")
                )
                # file_count, not row_count: metadata-only AND defined
                # while merge-on-read deletes are pending
                if table.file_count() == 0:
                    first = latest
                    if source.delete_col is not None:
                        # tombstones against an empty table are no-ops;
                        # the flag column is CDC metadata, never data
                        first = first.where(
                            ~F.coalesce(
                                F.col(source.delete_col).cast("boolean"),
                                F.lit(False),
                            )
                        ).drop(source.delete_col)
                    table.append(
                        first,
                        writer_id=writer_id,
                        batch_id=batch_id,
                        merge_schema=True,
                        bloom_for=source.bloom_for,
                    )
                else:
                    # one call for all strategies: MoR deltas are
                    # sequence-aware (the scan resolves contested keys
                    # to the per-key winner by sequence value, so
                    # out-of-order or re-delivered micro-batches
                    # converge exactly as under CoW) and stage the same
                    # row-level change set when changeFeed is on
                    table.merge(
                        df.sparkSession,
                        latest,
                        key=source.key,
                        sequence_col=source.sequence_col,
                        bloom_for=source.bloom_for,
                        delete_col=source.delete_col,
                        change_feed=source.change_feed,
                        strategy=source.merge_strategy,
                    )
                return
            # merge_schema: a widened source schema evolves the table in
            # place (the README-promised evolution, README.md:24);
            # max_rows_per_file enforces batching.maxRows — dead config in
            # the reference (SURVEY §2.1 O20), a hard writer cap here
            if source.branch and source.branch not in table.branches():
                # first batch of a branch source forks the ref in place
                table.create_branch(source.branch)
            v_src = table.append(
                df,
                writer_id=writer_id,
                batch_id=batch_id,
                merge_schema=True,
                max_rows_per_file=max_rows,
                cluster_by=source.cluster_by,
                bloom_for=source.bloom_for,
                stage=stage_this,
                branch=source.branch,
            )
            if source.indexes:
                if v_src is None:
                    # replayed batch: its rows are already in the
                    # table — recover the ORIGINAL commit's version so
                    # the index maintenance below stamps the true
                    # source vintage (the staged-rebuild coverage
                    # rules depend on it)
                    v_src = self._replayed_batch_version(
                        table, writer_id, batch_id
                    )
                self._maintain_indexes(
                    source, table, df, ns, writer_id, batch_id, v_src
                )

        return write_batch

    def _index_compact_limits(
        self, spec: dict
    ) -> tuple[int | None, int, int]:
        """(tail-file threshold, target count, max live runs) for a
        maintained index's periodic tail-only compaction — spec keys
        override the config-level policy."""
        after = spec.get(
            "compact_after_files", self.config.compact_after_files
        )
        target = int(
            spec.get(
                "compact_target_files", self.config.compact_target_files
            )
        )
        max_runs = int(
            spec.get("max_cluster_runs", self.config.compact_max_runs)
        )
        return (None if after is None else int(after)), target, max_runs

    @staticmethod
    def _replayed_batch_version(table, writer_id: str,
                                batch_id: int) -> int | None:
        """The version at which a (writer, batch) originally committed
        — walked from the head (replays are recent by construction).
        None when the commit folded behind an expiry boundary; the
        skip rule then falls back to the table's OLDEST retained
        version: the folded commit is provably older, so a build whose
        source_version reaches the fold boundary provably covers it
        (skip is exact). A build older than the boundary itself leaves
        the ordering unrecoverable — the rule then ADDS, which risks a
        duplicate only in the triple race (crash between source append
        and index add) + (expiry folding that seconds-old commit) +
        (a staged rebuild ALSO older than the fold boundary); with any
        sane retention the rebuild is newer than the horizon and the
        fallback decides exactly (review r14 — the previous head
        fallback got the common case wrong in the double-add
        direction)."""
        for s in reversed(table.snapshots()):
            if s.writer_id == writer_id and s.batch_id == batch_id:
                return s.version
        return None

    def _maintain_indexes(
        self, source: SourceSpec, table, df, ns: str, writer_id: str,
        batch_id: int, src_version: int | None = None,
    ) -> None:
        """Incremental secondary-index maintenance for one committed
        micro-batch (see ``SourceSpec.indexes``). Runs AFTER the main
        append inside the same serial foreachBatch hook, so the corpus
        read below already contains this batch and a crash before any
        index commit replays the whole batch idempotently.
        ``src_version`` is the source-table version this batch's rows
        committed at — stamped on every index add so the OFF-PATH
        staged rebuild (r14) can prove which concurrent adds its
        corpus read covered.

        The hook's inline work is O(batch) in ALL cases since r14:
        adds encode only their delta against frozen quantizers,
        compactions are tail-only, and drift REBUILDS moved to the
        maintenance entry point (``rebuild_if_drifted``) — the hook
        merely leaves drift observable in the commit log."""
        from pyspark.sql import functions as F

        spark = df.sparkSession
        if df.isEmpty():
            return
        for spec in source.indexes:
            kind = spec["kind"]
            name = _index_name(source, spec)
            after, target, max_runs = self._index_compact_limits(spec)
            if kind == "minhash":
                from pyspark.sql.types import (
                    LongType,
                    StructField,
                    StructType,
                )

                from crest_spark.operators.dedup import (
                    minhash_incremental_pairs,
                    minhash_index_append,
                )

                id_col = spec.get("id_col", "doc_id")
                text_col = spec.get("text_col", "text")
                idx = self.catalog.get_or_create_table(
                    name,
                    StructType(
                        [
                            StructField("doc_id", LongType()),
                            StructField("band", LongType()),
                            StructField("sig", LongType()),
                        ]
                    ),
                    ns,
                )
                batch_docs = df.select(
                    F.col(id_col).alias("doc_id"),
                    F.col(text_col).alias("text"),
                )
                # Periodic re-clustering compaction: each micro-batch
                # appends band rows whose sigs span the whole hash space
                # (sigs are uniform), so per-FILE sig ranges are wide and
                # the bucket-key pruned fetch stops biting as files
                # accrete. A SIG-sorted rewrite of the tail restores
                # narrow per-file sig ranges (the probe key is sig alone
                # — a 2-d z-curve would dilute each file's sig range by
                # the band dimension for no read-path benefit), so the
                # pruned fetch opens at most max_cluster_runs files per
                # band bucket. Done BEFORE this batch's maintenance
                # (serial hook — cannot race our own appends).
                idx.compact_tail(
                    spark,
                    after,
                    target_partitions=target,
                    cluster_by=["sig"],
                    max_cluster_runs=max_runs,
                )
                if spec.get("mine_pairs", True):
                    # verify texts are fetched by candidate-id pruned
                    # scan on the SOURCE table, not a full-corpus read
                    # per micro-batch: candidate ids are answer-sized,
                    # so the per-arrival I/O is O(matching files), not
                    # O(corpus) — pair with cluster_by=["doc_id"] on the
                    # source for narrow per-file id ranges
                    pairs = minhash_incremental_pairs(
                        spark,
                        idx,
                        batch_docs,
                        corpus_table=table,
                        corpus_id_col=id_col,
                        corpus_text_col=text_col,
                        writer_id=f"{writer_id}-{name}",
                        batch_id=batch_id,
                    )
                    pt = self.catalog.get_or_create_table(
                        f"{name}__pairs", pairs.schema, ns
                    )
                    # the pairs sink accretes one file per batch too —
                    # LSM bin-packing under the same threshold (no
                    # clustering to preserve: it's a results table)
                    pt.compact_tail(
                        spark,
                        after,
                        target_partitions=target,
                        max_cluster_runs=max_runs,
                    )
                    pt.append(
                        pairs,
                        writer_id=f"{writer_id}-{name}-pairs",
                        batch_id=batch_id,
                    )
                else:
                    minhash_index_append(
                        idx,
                        batch_docs,
                        writer_id=f"{writer_id}-{name}",
                        batch_id=batch_id,
                    )
                continue
            from crest_spark.operators.vector_index import (
                DELTA_COMPACT_TAIL,
                build_ivf_index,
                build_ivfpq_index,
                ivf_add,
                ivfpq_add,
                latest_build_meta,
            )

            id_col = spec.get("id_col", "vec_id")
            vec_col = spec.get("vec_col", "embedding")
            new_em = df.select(
                F.col(id_col).alias("vec_id"),
                F.col(vec_col).alias("embedding"),
            )
            t = self.catalog.table(name, ns)
            widx = f"{writer_id}-{name}"
            if not t.exists():
                # the batch id is stamped ON the build's replace commit
                # itself (overwrite takes writer/batch) — no separate
                # marker append, so there is no crash window in which a
                # replayed first micro-batch could take the add path and
                # double-add its vectors. The SOURCE BINDING + threshold
                # ride in the build metadata so the off-path rebuild
                # (`cli maintain --rebuild-indexes`) needs no config
                # re-supply, and source_version records which source
                # snapshot the build's corpus covers.
                build = build_ivf_index if kind == "ivf" else build_ivfpq_index
                build(
                    spark,
                    new_em,
                    self.catalog,
                    name=name,
                    namespace=ns,
                    writer_id=widx,
                    batch_id=batch_id,
                    source={
                        "namespace": ns,
                        "table": source.name,
                        "id_col": id_col,
                        "vec_col": vec_col,
                    },
                    source_version=src_version,
                    recluster_threshold=float(
                        spec.get("recluster_threshold", 0.5)
                    ),
                )
                continue
            if batch_id in t.committed_batches(widx):
                continue  # replayed batch: already built/added
            # Drift handling is OFF-PATH: the adds below stamp drift
            # markers and return — the hook's inline work stays O(batch)
            # — and a drifted index is rebuilt by the staged maintenance
            # job (rebuild_if_drifted: fit+encode once, bounded-delta
            # repair of adds that land mid-build, conditional publish;
            # searchers keep the old index throughout). A crash anywhere
            # before that job publishes leaves the drift markers in the
            # commit log, so the rebuild stays re-triggerable.
            if kind == "ivfpq":
                # a STAGED rebuild may have published while this batch
                # was in flight, with a source read that already covers
                # this batch's rows (source appends precede index adds
                # in this serial hook) — adding again would duplicate
                # them. Exact check: the build stamps the source version
                # its corpus read covered.
                bsv = latest_build_meta(t)[1].get("source_version")
                # unknown vintage (commit folded behind an expiry
                # boundary): the fold boundary is an upper bound on it —
                # see _replayed_batch_version's docstring
                ref = (
                    src_version
                    if src_version is not None
                    else table.versions()[0]
                )
                if bsv is not None and int(bsv) >= int(ref):
                    continue
            # the add owns the index's tail compaction: it folds the
            # accreted delta files (and pending ivf_delete deltas) into
            # a one-file-per-cell run before appending, under this
            # spec's threshold and run bound
            add_kw = dict(
                writer_id=widx,
                batch_id=batch_id,
                src_version=src_version,
                compact_tail_after=(
                    DELTA_COMPACT_TAIL if after is None else after
                ),
                max_cluster_runs=max_runs,
            )
            if kind == "ivf":
                add_kw["recluster"] = "defer"
            add = ivf_add if kind == "ivf" else ivfpq_add
            add(spark, t, new_em, **add_kw)

    def rebuild_indexes_once(self) -> dict[str, int]:
        """One maintenance sweep over every ivf/ivfpq index this
        service maintains: indexes whose drift exceeds their stamped
        threshold are staged-rebuilt (``rebuild_if_drifted`` — corpus
        re-read off the ingest path, concurrent adds delta-repaired,
        conditional publish). Returns {index name: committed version}
        for the rebuilds that landed. Safe to call from a side thread
        or an external scheduler while the ingest queries run; the
        deterministic entry point behind ``index_rebuild_interval``."""
        from crest_spark.operators.vector_index import (
            rebuild_if_drifted,
        )

        landed: dict[str, int] = {}
        for ns, name in self._vector_indexes():
            t = self.catalog.table(name, ns)
            if not t.exists():
                continue
            v = rebuild_if_drifted(self.spark, t, catalog=self.catalog)
            if v is not None:
                landed[f"{ns}.{name}"] = v
        return landed

    def _vector_indexes(self) -> list[tuple[str, str]]:
        """(namespace, table name) of every maintained ivf/ivfpq index."""
        return [
            (self._namespace(src), _index_name(src, spec))
            for src in self.config.sources
            for spec in src.indexes or []
            if spec.get("kind") in ("ivf", "ivfpq")
        ]

    def _rebuild_loop(self, interval: float) -> None:
        import logging

        while not self._rebuild_stop.wait(interval):
            try:
                self.rebuild_indexes_once()
            except Exception:  # noqa: BLE001 — maintenance must not
                # kill the thread: drift persists, the next sweep (or
                # the external CLI) retries; ingestion is unaffected
                logging.getLogger(__name__).exception(
                    "index rebuild sweep failed (will retry)"
                )

    def start(self) -> None:
        """Start every source's streaming query (reference Start(),
        ``ingestor.go:58-102``) and, when ``index_rebuild_interval``
        is set, the index-maintenance daemon thread."""
        self._start(self.config.trigger_interval)

    def _start(self, interval: str | None) -> None:
        """``start`` with the processing-time trigger ``interval``;
        None drains the available input and stops (``run_once``)."""
        self._interval = interval
        if (
            self.config.index_rebuild_interval is not None
            and self._vector_indexes()
        ):
            import threading

            self._rebuild_stop = threading.Event()
            self._rebuild_thread = threading.Thread(
                target=self._rebuild_loop,
                args=(float(self.config.index_rebuild_interval),),
                daemon=True,
                name="crest-index-rebuild",
            )
            self._rebuild_thread.start()
        for src in self.config.sources:
            if src.flight_location is not None:
                from crest_spark.sources.flight_source import (
                    register_flight_source,
                )

                register_flight_source(self.spark)
                reader = self.spark.readStream.format("crest_flight").option(
                    "location", src.flight_location
                )
                # files_per_trigger doubles as the flight backpressure
                # cap: the source prefetches each micro-batch into the
                # planner process, so every batch it plans stays bounded
                reader = reader.option(
                    "maxFlightsPerTrigger", src.files_per_trigger
                )
                if src.flight_prefix:
                    reader = reader.option("prefix", src.flight_prefix)
                if src.flight_schema:
                    stream = reader.schema(src.flight_schema).load()
                else:
                    # schema comes from the first listed flight: poll an
                    # empty server briefly (the reference's repoll) so
                    # startup doesn't race the producer
                    import time as _time

                    deadline = _time.monotonic() + max(
                        0.0, self.config.flight_start_timeout
                    )
                    while True:
                        try:
                            stream = reader.load()
                            break
                        except Exception as exc:  # noqa: BLE001
                            if (
                                "no flights" not in str(exc)
                                or _time.monotonic() >= deadline
                            ):
                                raise
                            _time.sleep(0.5)
            else:
                schema = normalize_ns_timestamps(
                    self.spark.read.parquet(src.path)
                ).schema
                stream = (
                    self.spark.readStream.schema(schema)
                    .option("maxFilesPerTrigger", src.files_per_trigger)
                    .option("recursiveFileLookup", "true")
                    .parquet(src.path)
                )
                if src.lineage:
                    from pyspark.sql import functions as F

                    # the hidden _metadata column must be selected on the
                    # source plan; inside foreachBatch it no longer resolves
                    stream = stream.select(
                        "*",
                        F.col("_metadata.file_path").alias("_source_file"),
                    )
            writer = (
                stream.writeStream.foreachBatch(self._sink(src))
                .option(
                    "checkpointLocation",
                    os.path.join(self.config.checkpoint_root, src.name),
                )
                .queryName(f"ingest_{src.name}")
            )
            if self._interval:
                writer = writer.trigger(processingTime=self._interval)
            elif src.flight_location is not None:
                # availableNow asks a capped Flight stream for its latest
                # offset once and would strand the backlog past the first
                # cap's worth of flights; await_drained() drains it instead
                writer = writer.trigger(processingTime="0 seconds")
            else:
                writer = writer.trigger(availableNow=True)
            self.queries.append(writer.start())

    def await_drained(self, timeout: int | None = None) -> None:
        """Wait until every query has consumed its available input. File
        sources run under availableNow and terminate by themselves; a
        Flight source started without a trigger interval is drained
        with ``processAllAvailable()`` and stopped."""
        for src, q in zip(self.config.sources, self.queries):
            if src.flight_location is not None and not self._interval:
                q.processAllAvailable()
                q.stop()
            else:
                q.awaitTermination(timeout)

    def stop(self) -> None:
        """Graceful shutdown (reference SIGTERM drain, ``main.go:26-54``)."""
        if getattr(self, "_rebuild_stop", None) is not None:
            self._rebuild_stop.set()
            self._rebuild_thread.join(timeout=30)
        for q in self.queries:
            if q.isActive:
                q.stop()
        self.queries.clear()

    def run_once(self) -> None:
        """Drain all available input and stop, whatever the config's
        trigger interval."""
        self._start(None)
        self.await_drained()
        self.stop()
