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
    continuous: true           # run each source as a long-lived query with
                               # one micro-batch per maxTimeWindowSeconds;
                               # false (default) drains the available input
                               # once and stops (`cli --once` always does)
    batching:
      maxRows: 1000
      maxTimeWindowSeconds: 60 # requires continuous: true
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

from dataclasses import dataclass, fields

import yaml

from crest_spark.streaming.ingest import IngestConfig, SourceSpec, check_source


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


def _camel(name: str) -> str:
    head, *rest = name.split("_")
    return head + "".join(w.capitalize() for w in rest)


# a source's YAML key is its SourceSpec field name in camelCase; `flight`
# (the reference's flight.servers entry) is the one key that is not
_SOURCE_KEYS = {
    ("flight" if f.name == "flight_location" else _camel(f.name)): f.name
    for f in fields(SourceSpec)
}


def _source(raw: dict) -> SourceSpec:
    unknown = sorted(set(raw) - set(_SOURCE_KEYS))
    if unknown:
        raise ValueError(
            f"source {raw.get('name')}: unknown key(s) {unknown}; known: "
            + ", ".join(_SOURCE_KEYS)
        )
    spec = SourceSpec(**{_SOURCE_KEYS[k]: v for k, v in raw.items()})
    check_source(spec)
    return spec


def _present(section: dict, **keys: str) -> dict:
    """{field: section[yaml key]} for the keys the YAML sets: an absent
    key keeps its dataclass default."""
    return {f: section[k] for f, k in keys.items() if k in section}


def load_config(path: str) -> EngineConfig:
    with open(path) as fh:
        raw = yaml.safe_load(fh) or {}

    batching = raw.get("batching", {})
    continuous = raw.get("continuous", False)
    if "maxTimeWindowSeconds" in batching and not continuous:
        raise ValueError(
            "batching.maxTimeWindowSeconds paces a continuous run: set "
            "'continuous: true' (without it every run drains the available "
            "input once and stops)"
        )
    window_s = int(batching.get("maxTimeWindowSeconds", 60))
    ingest = IngestConfig(
        warehouse=raw.get("warehouse", "data/warehouse"),  # local:"data" default
        checkpoint_root=raw.get("checkpoints", "data/checkpoints"),
        trigger_interval=f"{window_s} seconds" if continuous else None,
        sources=[_source(s) for s in raw.get("sources", [])],
        **_present(raw, namespace="namespace"),
        **_present(batching, max_rows_per_batch="maxRows"),
        **_present(
            raw.get("compaction", {}),
            compact_after_files="afterFiles",
            compact_target_files="targetFiles",
            compact_zorder_by="zorderBy",
            compact_max_runs="maxRuns",
        ),
        # maintenance.rebuildIntervalSeconds: in-process drift-rebuild
        # sweeps; absent = rebuilds via `cli maintain` only
        **_present(
            raw.get("maintenance", {}),
            index_rebuild_interval="rebuildIntervalSeconds",
        ),
    )
    m = raw.get("metrics", {})
    metrics = MetricsConfig(
        **_present(m, enabled="enabled", collection_path="collectionPath")
    )
    c = raw.get("catalog", {})
    catalog = CatalogConfig(
        **_present(c, type="type", endpoint="endpoint"),
        warehouse=c.get("warehouse") or ingest.warehouse,
    )
    return EngineConfig(ingest=ingest, metrics=metrics, catalog=catalog)
