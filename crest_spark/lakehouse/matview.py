"""Incremental materialized aggregate views over lakehouse tables.

This is the half of the reference architecture that crest itself does
NOT implement: crest continuously ships the OUTPUT of RisingWave
materialized views downstream (`/root/reference/README.md:13` — "reads
Arrow RecordBatches from materialized views"), delegating view
maintenance entirely to the upstream engine. Here the view is maintained
Spark-side, incrementally, over any commit-log table — closing the loop
so a crest user needs no external MV engine.

Model: ``IncrementalAggView`` = (source table, group-by columns, a dict
of decomposable aggregates). Maintenance is BATCH-INCREMENTAL:

    refresh():   delta  = source.read_changes(last_maintained, head]
                 partial = delta.groupBy(keys).agg(partial states)
                 combined = partial  ⟕ current-state   (delta keys only)
                 mv.merge(combined, extra={mv_source_version: head})

- The delta aggregation is the only work proportional to NEW data; the
  combine touches exactly the groups present in the delta, and
  ``Table.merge``'s stats-pruned copy-on-write rewrites only the state
  files containing those groups. Steady-state refresh cost is
  O(delta + touched groups), never O(source) or O(view) — the
  TimescaleDB continuous-aggregate / RisingWave delta-compute shape.
- ``mv_source_version`` rides in the SAME commit as the state change,
  so maintenance is exactly-once: a crash before the commit re-derives
  the identical delta; after it, the next refresh starts past it.
- Supported aggregates are the decomposable ones (sum, count, min, max,
  avg as sum+count) plus two sketch-state holistic aggregates:
  ``approx_distinct`` (Datasketches HLL — mergeable binary sketch,
  unioned per refresh) and ``approx_percentile`` (fixed-range histogram
  vector — merged by element-wise addition, quantile read off the
  cumulative counts at read time). Both show how an MV engine maintains
  a holistic aggregate without ever re-scanning history.
  All sound under crest's append-only ingestion.
  ``read_changes`` raises on a non-compaction replace in the range, so
  an overwrite/rollback of the source can never silently corrupt
  min/max, and on a range that starts inside expired source history
  (``expire_snapshots`` past the view's watermark merged that history
  into one boundary record); call ``full_refresh()`` after either. A
  view created after its source's history was expired is built from the
  source snapshot by its first refresh, since there is no delta from
  version 0 to fold.
- Single maintainer per view (the reference's model: one pipeline owns
  a view). Concurrent refreshes of the SAME view would double-count —
  the commit-conflict retry in merge protects against racing WRITERS,
  not racing maintainers computing from the same base state.

Continuous mode: ``maintain_continuously`` tails the source through the
``crest_table`` streaming source and applies the identical combine in
``foreachBatch``, with per-batch idempotence recorded in commit extra —
restart replays of a committed micro-batch are skipped.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from crest_spark.lakehouse.catalog import LakehouseCatalog
from crest_spark.lakehouse.table import LakehouseTable
from crest_spark.sources.table_stream import (
    expired_before,
    register_table_stream,
)

_KEY_COL = "__mv_key"
_SUPPORTED = (
    "sum", "count", "min", "max", "avg", "approx_distinct",
    "approx_percentile", "approx_top_k",
)


@dataclass(frozen=True)
class AggSpec:
    """One output aggregate: ``kind`` over ``col`` (col ignored for
    count).

    ``approx_percentile`` maintains a fixed-range histogram state
    (``buckets`` counts over [``lo``, ``hi``)) — mergeable by
    element-wise addition, so a holistic quantile maintains
    incrementally the same way HLL maintains distinct counts. The
    read-time estimate is nearest-rank with linear interpolation
    inside the hit bucket: error is bounded by one bucket width
    (hi - lo) / buckets; values outside the configured range clamp to
    the edge buckets (their mass is counted, their position saturates).
    Pick [lo, hi) from domain knowledge — the contract every
    fixed-range sketch (Prometheus histograms, HdrHistogram) makes.

    ``approx_top_k`` maintains a Misra-Gries counter summary (at most
    ``top_k`` (token, count) entries) — the MERGEABLE heavy-hitters
    sketch (Agarwal et al., "Mergeable Summaries"): two summaries
    combine by adding shared counters, then subtracting the
    (top_k+1)-th largest combined count and dropping non-positives.
    Estimates undercount by at most N/(top_k+1) (N = total values
    folded, tracked in a companion counter), and every token with true
    count above that bound is guaranteed present. Like HLL (and unlike
    the histogram), the summary is lossy-append-only: views holding one
    are NOT retractable and read the plain append delta."""

    kind: str
    col: str | None = None
    p: float = 0.5
    lo: float = 0.0
    hi: float = 1.0
    buckets: int = 64
    top_k: int = 32


def _state_cols(name: str, spec: AggSpec) -> list[str]:
    if spec.kind == "avg":
        return [f"{name}__sum", f"{name}__cnt"]
    if spec.kind == "approx_distinct":
        return [f"{name}__hll"]
    if spec.kind == "approx_percentile":
        return [f"{name}__hist"]
    if spec.kind == "approx_top_k":
        return [f"{name}__mg", f"{name}__mgn"]
    return [name]


class IncrementalAggView:
    def __init__(
        self,
        catalog: LakehouseCatalog,
        source: str,
        name: str,
        group_by: list[str],
        aggs: dict[str, AggSpec],
        namespace: str | None = None,
        derived_cols: dict[str, str] | None = None,
    ):
        """``derived_cols``: SQL expressions evaluated on each delta
        BEFORE grouping (``{"bucket": "date_trunc('hour', ts)"}``) —
        group_by may then name them, turning the view into a
        time-bucketed continuous aggregate (the TimescaleDB/RisingWave
        hypertable-rollup shape). Row-local expressions only: each delta
        row must derive them independently of other rows."""
        for out, spec in aggs.items():
            if spec.kind not in _SUPPORTED:
                raise ValueError(
                    f"aggregate {out}: kind {spec.kind!r} is not decomposable "
                    f"(supported: {_SUPPORTED})"
                )
            if spec.kind != "count" and spec.col is None:
                raise ValueError(f"aggregate {out}: {spec.kind} needs a column")
            if spec.kind == "approx_percentile":
                if not (0.0 <= spec.p <= 1.0):
                    raise ValueError(f"aggregate {out}: p must be in [0, 1]")
                if spec.hi <= spec.lo:
                    raise ValueError(f"aggregate {out}: needs hi > lo")
                if spec.buckets < 2:
                    raise ValueError(f"aggregate {out}: needs buckets >= 2")
            if spec.kind == "approx_top_k" and spec.top_k < 1:
                # top_k=0 would make _mg_partial subtract the rank-1 count
                # from everything: a permanently empty summary, silently
                raise ValueError(f"aggregate {out}: needs top_k >= 1")
        self.catalog = catalog
        self.source: LakehouseTable = catalog.table(source, namespace)
        self.name = name
        self.namespace = namespace
        self.group_by = list(group_by)
        self.aggs = dict(aggs)
        self.derived_cols = dict(derived_cols or {})
        self.mv: LakehouseTable = catalog.table(name, namespace)

    # ---------------------------------------------------------------- state
    def maintained_version(self) -> int:
        """Newest source version folded into the view (0 = nothing)."""
        if not self.mv.exists():
            return 0
        for s in reversed(self.mv.snapshots()):
            v = s.extra.get("mv_source_version")
            if v is not None:
                return int(v)
        return 0

    def _key_expr(self) -> F.Column:
        # injective, deterministic composite key: JSON escaping keeps
        # arbitrary group values (separators, NULLs) unambiguous
        return F.to_json(F.struct(*[F.col(c) for c in self.group_by]))

    def _retractable(self) -> bool:
        """True when every aggregate's state is a signed sum — the class
        that folds a change feed (retractions subtract). min/max/HLL are
        not: a retraction would need the full history to recompute."""
        return all(
            spec.kind in ("sum", "count", "avg", "approx_percentile")
            for spec in self.aggs.values()
        )

    def _partial(self, delta: DataFrame, signed: bool = False) -> DataFrame:
        """Per-group partial states of a delta — map-side combinable.

        ``signed``: the delta is a change feed (``_change_type``
        column); additions (insert/update_postimage) contribute +1 and
        retractions (delete/update_preimage) -1, so folding the feed is
        the differential-dataflow update rule. Requires every agg to be
        retractable."""
        if signed:
            sign = F.when(
                F.col("_change_type").isin("insert", "update_postimage"),
                F.lit(1),
            ).otherwise(F.lit(-1))
        else:
            sign = F.lit(1)
        for name, sql in self.derived_cols.items():
            delta = delta.withColumn(name, F.expr(sql))

        def signed_val(col: str) -> F.Column:
            # negation (not multiplication) keeps the exact input type —
            # DECIMAL(30,8) * INT would widen the state column and break
            # schema pinning between signed and unsigned refreshes
            return F.when(sign >= 0, F.col(col)).otherwise(-F.col(col))

        exprs = []
        for out, spec in self.aggs.items():
            if spec.kind == "sum":
                exprs.append(F.sum(signed_val(spec.col)).alias(out))
            elif spec.kind == "count":
                exprs.append(F.sum(sign).cast("long").alias(out))
            elif spec.kind == "min":
                exprs.append(F.min(spec.col).alias(out))
            elif spec.kind == "max":
                exprs.append(F.max(spec.col).alias(out))
            elif spec.kind == "approx_distinct":
                # Datasketches HLL: the state is a MERGEABLE binary
                # sketch, so even a holistic aggregate maintains
                # incrementally — union sketches, never re-scan
                exprs.append(F.hll_sketch_agg(spec.col).alias(f"{out}__hll"))
            elif spec.kind in ("approx_percentile", "approx_top_k"):
                # built by _hist_partial / _mg_partial, joined on the key
                continue
            else:  # avg -> (sum, count) state pair
                exprs.append(F.sum(signed_val(spec.col)).alias(f"{out}__sum"))
                exprs.append(
                    F.sum(
                        F.when(F.col(spec.col).isNotNull(), sign).otherwise(0)
                    )
                    .cast("long")
                    .alias(f"{out}__cnt")
                )
        mg_specs = {
            out: spec
            for out, spec in self.aggs.items()
            if spec.kind == "approx_top_k"
        }
        pct_specs = {
            out: spec
            for out, spec in self.aggs.items()
            if spec.kind == "approx_percentile"
        }
        if exprs:
            df = delta.groupBy(*self.group_by).agg(*exprs)
        else:  # only joined-state aggs: group rows come from distinct
            df = delta.select(*self.group_by).distinct()
        df = df.withColumn(_KEY_COL, self._key_expr())
        # histogram states: one two-level aggregate per DISTINCT bucket
        # config (specs sharing (col, lo, hi, buckets) — e.g. a p50/p90
        # pair — reuse a single computed vector), joined on the key
        cfgs: dict[tuple, list[str]] = {}
        for out, spec in pct_specs.items():
            cfgs.setdefault(
                (spec.col, spec.lo, spec.hi, spec.buckets), []
            ).append(out)
        for (col, lo, hi, buckets), outs in cfgs.items():
            hp = self._hist_partial(delta, col, lo, hi, buckets, sign)
            hp = hp.select(
                _KEY_COL,
                *[F.col("__hist").alias(f"{out}__hist") for out in outs],
            )
            df = df.join(hp, _KEY_COL, "left")
        for out, spec in pct_specs.items():
            # a group whose delta rows are all NULL in the measured
            # column has no histogram rows — its state is the zero
            # vector, exactly what the old per-bucket sums produced
            df = df.withColumn(
                f"{out}__hist",
                F.coalesce(
                    F.col(f"{out}__hist"),
                    F.expr(
                        f"transform(sequence(0, {spec.buckets - 1}),"
                        " i -> CAST(0 AS BIGINT))"
                    ),
                ),
            )
        # pin the historical column order (group cols, inline states in
        # agg order, histogram states in agg order, key): the view
        # table's schema was created from this layout
        ordered = list(self.group_by)
        for out, spec in self.aggs.items():
            if spec.kind in ("approx_percentile", "approx_top_k"):
                continue
            ordered += _state_cols(out, spec)
        ordered += [f"{out}__hist" for out in pct_specs]
        ordered.append(_KEY_COL)
        df = df.select(*ordered)
        for out, spec in mg_specs.items():
            df = df.join(self._mg_partial(delta, out, spec), _KEY_COL, "left")
        return df

    def _hist_partial(
        self,
        delta: DataFrame,
        col: str,
        lo: float,
        hi: float,
        buckets: int,
        sign: F.Column,
    ) -> DataFrame:
        """Fixed-range histogram of one delta, per group, as a TWO-LEVEL
        aggregate: exact (group, bucket) signed counts first (a single
        codegen'd SUM — the only corpus-scale pass), then the sparse
        counts pivot into the dense ``array<bigint>`` state over at most
        groups x buckets rows. The old single-level form (one
        conditional SUM per bucket) carried ``buckets`` aggregate
        buffers PER SPEC, which blows past
        ``spark.sql.codegen.maxFields`` (100) and silently drops the
        whole aggregate — scan included — out of whole-stage codegen,
        making every delta row pay ``buckets`` interpreted buffer
        updates (measured 10x slower at 2x100 buckets, r14)."""
        width = (hi - lo) / buckets
        idx = F.least(
            F.lit(buckets - 1),
            F.greatest(F.lit(0), F.floor((F.col(col) - lo) / width)),
        ).cast("int")
        keyed = delta.withColumn(_KEY_COL, self._key_expr())
        lvl1 = (
            keyed.where(F.col(col).isNotNull())
            .groupBy(_KEY_COL, idx.alias("__hb"))
            .agg(F.sum(sign).cast("long").alias("__hc"))
        )
        m = lvl1.groupBy(_KEY_COL).agg(
            F.map_from_entries(
                F.collect_list(F.struct("__hb", "__hc"))
            ).alias("__hm")
        )
        return m.select(
            _KEY_COL,
            F.expr(
                f"transform(sequence(0, {buckets - 1}),"
                " i -> CAST(coalesce(try_element_at(__hm, i), 0) AS BIGINT))"
            ).alias("__hist"),
        )

    def _mg_partial(self, delta: DataFrame, out: str, spec: AggSpec) -> DataFrame:
        """Misra-Gries summary of one delta, per group: exact (group,
        token) counts -> top-K with the (K+1)-th count subtracted — a
        valid MG summary of the delta (undercount <= delta_N/(K+1)),
        plus the delta's total token mass for the error bound. All work
        is proportional to the delta; the only wide state is K structs
        per group."""
        from pyspark.sql.window import Window

        K = spec.top_k
        keyed = delta.withColumn(_KEY_COL, self._key_expr())
        tok = F.col(spec.col).cast("string")
        exact = (
            keyed.where(tok.isNotNull())
            .groupBy(_KEY_COL, tok.alias("__tok"))
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        w = Window.partitionBy(_KEY_COL).orderBy(
            F.desc("__c"), F.asc("__tok")
        )
        ranked = exact.withColumn("__rn", F.row_number().over(w))
        kth = ranked.where(F.col("__rn") == K + 1).select(
            _KEY_COL, F.col("__c").alias("__kth")
        )
        top = (
            ranked.where(F.col("__rn") <= K)
            .join(kth, _KEY_COL, "left")
            .withColumn("__cp", F.col("__c") - F.coalesce("__kth", F.lit(0)))
            .where(F.col("__cp") > 0)
        )
        summary = top.groupBy(_KEY_COL).agg(
            F.expr(
                "array_sort(collect_list(named_struct('k', __tok, 'c', __cp)),"
                " (l, r) -> CASE WHEN l.c > r.c THEN -1 WHEN l.c < r.c THEN 1"
                " WHEN l.k < r.k THEN -1 WHEN l.k > r.k THEN 1 ELSE 0 END)"
            ).alias(f"{out}__mg")
        )
        totals = exact.groupBy(_KEY_COL).agg(
            F.sum("__c").cast("long").alias(f"{out}__mgn")
        )
        # a group can have mass but NO surviving counters (uniform tail:
        # every count cancels against the (K+1)-th) — that's an EMPTY
        # summary, not a missing one
        return totals.join(summary, _KEY_COL, "left").withColumn(
            f"{out}__mg",
            F.coalesce(
                F.col(f"{out}__mg"),
                F.expr("CAST(array() AS array<struct<k:string,c:bigint>>)"),
            ),
        )

    @staticmethod
    def _mg_merge_expr(new: str, old: str, k: int) -> str:
        """SQL merging two MG summaries (arrays of (k, c) structs):
        combine counts per key, subtract the (K+1)-th largest combined
        count, drop non-positives — the mergeable-summaries rule. All
        HOFs over <= 2K entries per group row."""
        allv = f"concat({new}, {old})"
        summed = (
            f"transform(array_distinct(transform({allv}, x -> x.k)),"
            f" kk -> named_struct('k', kk,"
            f" 'c', aggregate(filter({allv}, x -> x.k = kk), 0L,"
            f" (a, x) -> a + x.c)))"
        )
        srt = (
            f"array_sort({summed},"
            f" (l, r) -> CASE WHEN l.c > r.c THEN -1 WHEN l.c < r.c THEN 1"
            f" WHEN l.k < r.k THEN -1 WHEN l.k > r.k THEN 1 ELSE 0 END)"
        )
        return (
            f"CASE WHEN {old} IS NULL THEN {new}"
            f" WHEN {new} IS NULL THEN {old}"
            f" ELSE filter(transform(slice({srt}, 1, {k}),"
            f" s -> named_struct('k', s.k,"
            f" 'c', s.c - CASE WHEN size({srt}) > {k}"
            f" THEN element_at({srt}, {k + 1}).c ELSE 0L END)),"
            f" x -> x.c > 0) END"
        )

    def _combine(self, partial: DataFrame, current: DataFrame) -> DataFrame:
        """Fold delta partials into existing states for the SAME groups.

        ``current`` may be pre-pruned to the partial's keys; groups new
        to the view appear only on the partial side (left join)."""
        cur_cols = []
        for out, spec in self.aggs.items():
            cur_cols += _state_cols(out, spec)
        cur = current.select(
            _KEY_COL, *[F.col(c).alias(f"__cur_{c}") for c in cur_cols]
        )
        joined = partial.join(cur, _KEY_COL, "left")
        merged = []
        for out, spec in self.aggs.items():
            for c in _state_cols(out, spec):
                new, old = F.col(c), F.col(f"__cur_{c}")
                if spec.kind == "min":
                    expr = F.least(new, old)
                elif spec.kind == "max":
                    expr = F.greatest(new, old)
                elif spec.kind == "approx_distinct":
                    expr = F.when(old.isNull(), new).when(
                        new.isNull(), old
                    ).otherwise(F.hll_union(new, old))
                elif spec.kind == "approx_percentile":
                    # histogram vectors add element-wise
                    expr = F.when(old.isNull(), new).otherwise(
                        F.zip_with(new, old, lambda a, b: a + b)
                    )
                elif spec.kind == "approx_top_k" and c.endswith("__mg"):
                    expr = F.expr(
                        self._mg_merge_expr(c, f"__cur_{c}", spec.top_k)
                    )
                else:  # sum / count / avg / mg-total states are additive
                    expr = new + F.coalesce(old, F.lit(0))
                # least/greatest ignore NULL only via coalesce fallback
                merged.append(F.coalesce(expr, new, old).alias(c))
        return joined.select(*self.group_by, _KEY_COL, *merged)

    # ------------------------------------------------------------- refresh
    def refresh(self, spark: SparkSession) -> int | None:
        """Fold all source commits since the last refresh into the view.
        Returns the new view version, or None when already current.

        When every aggregate is retractable (a signed sum: sum / count /
        avg / approx_percentile histogram), the delta is read as a
        CHANGE FEED and folded with signs — so the view also maintains
        incrementally over a source that upserts (``merge(...,
        change_feed=True)``) or deletes (``delete(...,
        change_feed=True)``), the differential-dataflow role the
        reference delegates to RisingWave. Views holding min/max/HLL
        read the plain append delta (retraction would need history) and
        raise on replace commits — ``full_refresh`` is their escape
        hatch. A view that does not exist yet folds the source's
        changes from version 0, or, over a source whose history was
        expired, is built by ``full_refresh`` (``_new_over_expired``)."""
        head = self.source.version()
        last = self.maintained_version()
        if head <= last:
            return None
        if self._new_over_expired():
            return self.full_refresh(spark)
        signed = self._retractable()
        delta = self.source.read_changes(
            spark, after=last, upto=head, cdf=signed
        )
        return self._apply_delta(
            spark, delta, {"mv_source_version": head}, signed=signed
        )

    def _new_over_expired(self) -> bool:
        """True for a view that does not exist yet over a source whose
        history was expired, so ``read_changes`` has no delta from
        version 0 to give (``expired_before``)."""
        return not self.mv.exists() and expired_before(
            self.source.versions(), 0
        )

    def _apply_delta(
        self,
        spark: SparkSession,
        delta: DataFrame,
        extra: dict,
        signed: bool = False,
    ) -> int:
        partial = self._partial(delta, signed=signed)
        if not self.mv.exists():
            schema: StructType = partial.schema
            self.catalog.get_or_create_table(self.name, schema, self.namespace)
            self.mv = self.catalog.table(self.name, self.namespace)
        # prune current state to the delta's groups before the combine:
        # semi-join on the key, so the fold's shuffle carries only
        # touched groups (merge's file-level stats pruning then bounds
        # the rewrite the same way)
        current = self.mv.read(spark).join(
            partial.select(_KEY_COL), _KEY_COL, "left_semi"
        )
        combined = self._combine(partial, current)
        return self.mv.merge(spark, combined, key=_KEY_COL, extra=extra)

    def full_refresh(self, spark: SparkSession) -> int:
        """Recompute the whole view from the current source snapshot —
        the escape hatch after a source overwrite/rollback breaks the
        append-only contract ``refresh`` depends on. The snapshot read is
        pinned to the version the view records, so a source commit that
        lands meanwhile is left to the next refresh, not folded twice."""
        head = self.source.version()
        partial = self._partial(self.source.read(spark, version=head))
        if not self.mv.exists():
            self.catalog.get_or_create_table(
                self.name, partial.schema, self.namespace
            )
            self.mv = self.catalog.table(self.name, self.namespace)
        return self.mv.overwrite(partial, extra={"mv_source_version": head})

    # ---------------------------------------------------------------- read
    def read(self, spark: SparkSession) -> DataFrame:
        """The view's EXTERNAL schema: group columns + one column per
        aggregate (avg projected from its sum/count state)."""
        df = self.mv.read(spark)
        outs = []
        for out, spec in self.aggs.items():
            if spec.kind == "avg":
                outs.append(
                    (
                        F.col(f"{out}__sum")
                        / F.col(f"{out}__cnt").cast("double")
                    ).alias(out)
                )
            elif spec.kind == "approx_distinct":
                outs.append(
                    F.hll_sketch_estimate(F.col(f"{out}__hll")).alias(out)
                )
            elif spec.kind == "approx_percentile":
                outs.append(self._percentile_expr(out, spec).alias(out))
            elif spec.kind == "approx_top_k":
                # count-descending (token, count) structs + the sketch's
                # max undercount (N / (K+1)) so consumers can threshold
                outs.append(F.col(f"{out}__mg").alias(out))
                outs.append(
                    (
                        F.col(f"{out}__mgn")
                        / F.lit(float(spec.top_k + 1))
                    ).alias(f"{out}_err")
                )
            else:
                outs.append(F.col(out))
        return df.select(*self.group_by, *outs)

    @staticmethod
    def _percentile_expr(out: str, spec: AggSpec) -> F.Column:
        """Nearest-rank percentile from the histogram state, linearly
        interpolated inside the hit bucket. One aggregate() HOF over a
        ``buckets``-long array per OUTPUT row — read-time cost, O(groups),
        never touches source rows."""
        hist = f"{out}__hist"
        width = (spec.hi - spec.lo) / spec.buckets
        # target rank: ceil(p * N), floored at 1 so p=0 yields the min edge
        return F.expr(
            f"""
            CASE WHEN aggregate({hist}, 0L, (a, x) -> a + x) = 0 THEN NULL
            ELSE aggregate(
              {hist},
              named_struct(
                'cum', 0L,
                'tgt', greatest(1L, CAST(ceil({spec.p!r} *
                        aggregate({hist}, 0L, (a, x) -> a + x)) AS BIGINT)),
                'i', 0,
                'est', CAST(NULL AS DOUBLE)),
              (acc, x) -> named_struct(
                'cum', acc.cum + x,
                'tgt', acc.tgt,
                'i', acc.i + 1,
                'est', CASE
                  WHEN acc.est IS NOT NULL THEN acc.est
                  WHEN x > 0 AND acc.cum + x >= acc.tgt THEN
                    {spec.lo!r} + (CAST(acc.i AS DOUBLE) +
                      (CAST(acc.tgt - acc.cum AS DOUBLE) / CAST(x AS DOUBLE)))
                      * {width!r}
                  ELSE CAST(NULL AS DOUBLE) END),
              acc -> acc.est)
            END
            """
        )

    # ---------------------------------------------------------- continuous
    def maintain_continuously(
        self,
        spark: SparkSession,
        checkpoint: str,
        trigger_interval: str = "1 second",
        available_now: bool = False,
    ):
        """Tail the source through the ``crest_table`` stream and fold
        each micro-batch with the same combine. Exactly-once: the batch
        id rides in the commit extra; a restart replay of a committed
        batch is detected and skipped.

        The stream's first batch starts at the view's maintained
        watermark (``startingVersion``), so pre-stream source commits are
        caught up by batch 0 with no gap and no separate backfill step.
        A view that does not exist yet over a source whose history was
        expired is first built from the source snapshot
        (``full_refresh``, as ``refresh()`` does).
        A view is maintained by EITHER batch ``refresh()`` OR one
        continuous stream — switching from continuous back to batch
        refresh requires ``full_refresh()`` first (stream folds advance
        the engine checkpoint, not ``mv_source_version``)."""
        register_table_stream(spark)
        if self._new_over_expired():
            self.full_refresh(spark)
        committed = set()
        if self.mv.exists():
            committed = {
                s.extra["mv_stream_batch"]
                for s in self.mv.snapshots()
                if "mv_stream_batch" in s.extra
            }
        # retractable views tail the CHANGE FEED so the continuous fold
        # also survives source upserts/deletes (signed, like refresh())
        signed = self._retractable()

        def fold(batch_df: DataFrame, batch_id: int) -> None:
            if batch_id in committed or batch_df.isEmpty():
                return
            self._apply_delta(
                spark, batch_df, {"mv_stream_batch": batch_id}, signed=signed
            )
            committed.add(batch_id)

        reader = (
            spark.readStream.format("crest_table")
            .option("warehouse", self.catalog.warehouse)
            .option("namespace", self.source.namespace)
            .option("table", self.source.name)
            .option("startingVersion", str(self.maintained_version()))
        )
        if signed:
            reader = reader.option("readChangeFeed", "true")
        writer = reader.load().writeStream.foreachBatch(fold).option(
            "checkpointLocation", checkpoint
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=trigger_interval)
        return writer.start()
