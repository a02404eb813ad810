"""YAML configuration loader.

Mirrors the reference's config surface and defaults
(``/root/reference/pkg/config/config.go:60-89``: maxRows=1000,
maxTimeWindow=60s, storage local:"data", namespace "default"), mapped to
the Spark-native ingestion service. Unlike the reference, the batching
limits are actually enforced (trigger/maxFilesPerTrigger — fixing SURVEY
§2.1 O20).

Example:

    warehouse: data/warehouse
    checkpoints: data/checkpoints
    namespace: default
    batching:
      maxRows: 1000
      maxTimeWindowSeconds: 60
    sources:
      - name: events
        path: /staging/events
        filesPerTrigger: 1
        clusterBy: [event_id]  # optional: range-cluster committed batches
        bloomFor: [user_id]    # optional: per-file point-lookup Bloom filters
        expect:                # optional: data-quality gates per batch
          user_present: "user_id IS NOT NULL"   # FALSE or NULL = violation
          value_sane: "value >= 0"
        onViolation: quarantine   # quarantine (default: rows land in
                                  # events__quarantine with a _violated
                                  # rule list) | drop | fail (kill stream)
        stage: false           # true = write-audit-publish: every batch
                               # commits STAGED (invisible) until
                               # `cli maintain --publish` (or
                               # publish_staged()) after an audit pass
        expectBatch:           # optional: AGGREGATE gates on the clean
          volume: "COUNT(*) >= 10"        # rows of each batch
          sane_mean: "AVG(value) < 1e6"
        onBatchViolation: fail # fail (default: kill stream) | skip
                               # (drop batch) | stage (divert batch to a
                               # WAP staged commit for audit)
        lineage: false         # true = stamp _source_file/_ingest_batch
                               # provenance columns on every row
      - name: vectors          # maintained ANN index (append mode only):
        path: /staging/emb     # each spec is passed through unchanged
        indexes:               # as a SourceSpec.indexes dict (snake_case
          - kind: ivf          # keys, see SourceSpec); drift rebuilds
            name: emb_ivf      # run from `cli maintain` or from the
            id_col: vec_id     # maintenance block below
            vec_col: embedding
            recluster_threshold: 0.5
      - name: user_latest      # CDC upsert target: one row per key,
        path: /staging/users   # latest change wins (sequence-conditioned
        mode: upsert           # merge; convergent under replay)
        key: user_id
        sequenceCol: event_id
        deleteCol: op_delete   # optional: Debezium-style tombstones
        changeFeed: true       # optional: stage row-level change sets so
                               # incremental views fold the upserts
        mergeStrategy: cow     # optional: cow (default) | mor | auto —
                               # mor commits merge-on-read row deltas
                               # (hot-key CDC never rewrites data files;
                               # fold with compact / cli maintain).
                               # mor is sequence-aware and composes
                               # with changeFeed
      - name: corpus           # streaming exact-dedup: derived columns
        path: /staging/docs    # (generated at ingest) feed the merge key,
        mode: upsert           # so the table keeps one row per content
        derive:                # hash — first-seen doc wins
          content_hash: "md5(cast(text AS binary))"
          first_seen: "-doc_id"
        key: content_hash
        sequenceCol: first_seen
      - name: views            # Arrow Flight ingress (the reference's
        flight: grpc://host:port   # flight.servers entry, config.go:29-33)
        flightPrefix: events/  # descriptor-path filter (view selection)
    maintenance:
      rebuildIntervalSeconds: 300   # optional: in-process drift-rebuild
                                    # sweeps over the sources' ivf/ivfpq
                                    # indexes (absent = `cli maintain` only)
    compaction:
      afterFiles: 32
      targetFiles: 4
      zorderBy: [o_custkey]    # optional: cluster the rewrite
    metrics:
      enabled: true
      collectionPath: data/metrics.jsonl
    catalog:
      type: local            # or: rest
      endpoint: http://lakekeeper:8181/catalog   # rest only
"""

from __future__ import annotations

from dataclasses import dataclass

import yaml

from crest_spark.streaming.ingest import IngestConfig, SourceSpec


@dataclass
class MetricsConfig:
    enabled: bool = False
    collection_path: str = "data/metrics.jsonl"


@dataclass
class CatalogConfig:
    """Reference ``CatalogConfig{Endpoint, Type, Warehouse}``
    (``config.go:46-51``). type 'local' = directory catalog (default);
    'rest' = Iceberg REST catalog (Lakekeeper-style endpoint)."""

    type: str = "local"
    endpoint: str | None = None
    warehouse: str | None = None  # None -> the ingest warehouse dir


@dataclass
class EngineConfig:
    ingest: IngestConfig
    metrics: MetricsConfig
    catalog: CatalogConfig


def load_config(path: str) -> EngineConfig:
    with open(path) as fh:
        raw = yaml.safe_load(fh) or {}

    batching = raw.get("batching", {})
    max_rows = int(batching.get("maxRows", 1000))  # reference default
    window_s = int(batching.get("maxTimeWindowSeconds", 60))

    sources = [
        SourceSpec(
            name=s["name"],
            path=s.get("path"),
            files_per_trigger=int(s.get("filesPerTrigger", 1)),
            namespace=s.get("namespace"),
            flight_location=s.get("flight"),
            flight_prefix=s.get("flightPrefix"),
            flight_schema=s.get("flightSchema"),
            cluster_by=(
                [str(c) for c in s["clusterBy"]] if "clusterBy" in s else None
            ),
            bloom_for=(
                [str(c) for c in s["bloomFor"]] if "bloomFor" in s else None
            ),
            mode=s.get("mode", "append"),
            key=(
                [str(k) for k in s["key"]]
                if isinstance(s.get("key"), list)
                else s.get("key")
            ),
            sequence_col=s.get("sequenceCol"),
            delete_col=s.get("deleteCol"),
            change_feed=bool(s.get("changeFeed", False)),
            merge_strategy=s.get("mergeStrategy", "cow"),
            derive=(
                {str(c): str(e) for c, e in s["derive"].items()}
                if "derive" in s
                else None
            ),
            expect=(
                {str(c): str(e) for c, e in s["expect"].items()}
                if "expect" in s
                else None
            ),
            on_violation=s.get("onViolation", "quarantine"),
            stage=bool(s.get("stage", False)),
            branch=s.get("branch"),
            expect_batch=(
                {str(c): str(e) for c, e in s["expectBatch"].items()}
                if "expectBatch" in s
                else None
            ),
            on_batch_violation=s.get("onBatchViolation", "fail"),
            lineage=bool(s.get("lineage", False)),
            indexes=s.get("indexes"),
        )
        for s in raw.get("sources", [])
    ]
    for s in sources:
        if s.path is None and s.flight_location is None:
            raise ValueError(f"source {s.name}: needs either 'path' or 'flight'")
        if s.mode not in ("append", "upsert"):
            raise ValueError(f"source {s.name}: unknown mode {s.mode!r}")
        if s.mode == "upsert" and (s.key is None or s.sequence_col is None):
            raise ValueError(
                f"source {s.name}: mode 'upsert' requires 'key' and "
                "'sequenceCol' (CDC ordering column)"
            )
        if s.merge_strategy not in ("cow", "mor", "auto"):
            raise ValueError(
                f"source {s.name}: mergeStrategy {s.merge_strategy!r} "
                "(cow | mor | auto)"
            )
        if s.on_violation not in ("quarantine", "drop", "fail"):
            raise ValueError(
                f"source {s.name}: onViolation {s.on_violation!r} "
                "(quarantine | drop | fail)"
            )
        if s.stage and s.mode == "upsert":
            raise ValueError(
                f"source {s.name}: 'stage' (write-audit-publish) applies "
                "to append mode; an upsert merge cannot be staged"
            )
        if s.on_batch_violation not in ("fail", "skip", "stage"):
            raise ValueError(
                f"source {s.name}: onBatchViolation "
                f"{s.on_batch_violation!r} (fail | skip | stage)"
            )
        if s.on_batch_violation == "stage" and s.mode == "upsert":
            raise ValueError(
                f"source {s.name}: onBatchViolation 'stage' applies to "
                "append mode; an upsert merge cannot be staged"
            )
        if s.branch and s.mode == "upsert":
            raise ValueError(
                f"source {s.name}: 'branch' ingestion applies to append "
                "mode; branches are append-only refs"
            )
        if s.branch and s.on_batch_violation == "stage":
            raise ValueError(
                f"source {s.name}: onBatchViolation 'stage' cannot divert "
                "a branch source (commits are already invisible on the "
                "branch); use 'fail' or 'skip'"
            )
        if s.branch and s.stage:
            raise ValueError(
                f"source {s.name}: 'branch' and 'stage' are mutually "
                "exclusive (a branch IS the multi-batch staging form)"
            )

    compaction = raw.get("compaction", {})
    ingest = IngestConfig(
        warehouse=raw.get("warehouse", "data/warehouse"),  # local:"data" default
        checkpoint_root=raw.get("checkpoints", "data/checkpoints"),
        namespace=raw.get("namespace", "default"),
        trigger_interval=(
            f"{window_s} seconds" if raw.get("continuous", False) else None
        ),
        max_rows_per_batch=max_rows,
        sources=sources,
        compact_after_files=(
            int(compaction["afterFiles"]) if "afterFiles" in compaction else None
        ),
        compact_target_files=int(compaction.get("targetFiles", 4)),
        compact_zorder_by=(
            [str(c) for c in compaction["zorderBy"]]
            if "zorderBy" in compaction
            else None
        ),
        compact_max_runs=int(compaction.get("maxRuns", 4)),
        # maintenance.rebuildIntervalSeconds: in-process drift-rebuild
        # sweeps (r14); absent = rebuilds via `cli maintain` only
        index_rebuild_interval=(
            float(raw["maintenance"]["rebuildIntervalSeconds"])
            if "rebuildIntervalSeconds" in raw.get("maintenance", {})
            else None
        ),
    )
    m = raw.get("metrics", {})
    metrics = MetricsConfig(
        enabled=bool(m.get("enabled", False)),
        collection_path=m.get("collectionPath", "data/metrics.jsonl"),
    )
    c = raw.get("catalog", {})
    catalog = CatalogConfig(
        type=c.get("type", "local"),
        endpoint=c.get("endpoint"),
        warehouse=c.get("warehouse") or ingest.warehouse,
    )
    return EngineConfig(ingest=ingest, metrics=metrics, catalog=catalog)
