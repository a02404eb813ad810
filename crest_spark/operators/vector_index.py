"""Persistent IVF vector index as a cell-clustered lakehouse table.

``ann_ivf_topk`` re-fits centroids and re-assigns the whole corpus on
every call — fine for one query, wrong for a serving workload. The
FAISS-style answer is an INDEX built once and probed many times; the
Spark-native spelling of "inverted file" is a lakehouse table whose
rows are (vec_id, embedding, cell), written CLUSTERED BY cell so every
file's commit-log min/max stats span ~one cell. A probe of ``nprobe``
cells then reads O(nprobe) FILES via manifest-level skipping — at
100 TB the query cost is the probed cells' bytes, not a corpus scan,
exactly the IVF contract. Centroids ride in the index commit's
``extra`` (a few KB of JSON), so a searcher needs ONE metadata read
before its first probe; rebuilds are one ``overwrite`` (snapshot
isolation: searchers on the old snapshot keep their index).

Build cost is one corpus pass (assignment GEMM, Arrow-batched) after an
O(sample) driver-side k-means fit — the same split FAISS uses (train on
a sample, add in bulk).

The flat entries borrow this module's kernels and lend theirs:
``ann_ivf_topk`` fits, assigns and probes with ``_fit_centroids``,
``_assign_cells``, ``_probe_cells`` and ``_probed_sims`` (SemDeDup's
``dedup_semantic_clusters`` clusters with the first two), while both
searches here rank with ``similarity.rank_topk`` and the IVF-PQ index
encodes, builds its lookup tables and re-ranks with
``similarity.pq_assign``/``pq_lut``/``pq_rerank`` — the kernels of the
flat ``ann_pq_topk``. Each is imported lazily, so registration order
is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crest_spark.functions.vectors import cosine_sim
from crest_spark.lakehouse.catalog import LakehouseCatalog
from crest_spark.lakehouse.table import LakehouseTable
from crest_spark.registry import register
from crest_spark.sources.tables import load_table

IVF_CELLS = 16
IVF_NPROBE = 4
IVF_SEED = 13
IVF_SAMPLE = 2000
IVF_LLOYD = 5
IVF_TARGET_CELL = 4096  # corpus rows per cell the auto-sized index aims at


def _ivf_k(n_total: int) -> int:
    """Auto-sized cell count: k ∝ n / target-cell-size (floor IVF_CELLS,
    cap 4096) — the FAISS sizing rule. A FIXED k makes cell sizes, and
    probe cost, grow linearly with the corpus; scaling k keeps a probe's
    work at O(nprobe · target) rows no matter the corpus (same rule as
    SemDeDup's ``_semdedup_k``). Past the cap (~16M vectors) cells grow
    linearly again — the production escalation is IVF's own second
    level (coarse cell -> per-cell sub-quantizer, i.e. run this index
    recursively per hot cell), the same two-level shape the SemDeDup
    recluster already implements; the cap itself is what keeps the
    driver-side Lloyd fit a sample×k GEMM."""
    return int(
        min(4096, max(IVF_CELLS, -(-n_total // IVF_TARGET_CELL)))
    )


def _fit_centroids(em: DataFrame, n_cells: int, seed: int, sample_n: int):
    """Seeded k-means on a bounded driver-side sample — O(sample), not
    O(corpus); the assignment pass below is the only corpus-wide work.
    ``n_cells`` clamps to the sample size (a first streaming micro-batch
    of 10 vectors must build a 10-cell index, not crash the query on
    ``choice(10, 16, replace=False)``); callers take the effective cell
    count from ``len(centroids)``."""
    import numpy as np

    sample = np.array(
        [r[0] for r in em.select("embedding").limit(sample_n).collect()],
        dtype=np.float64,
    )
    sample /= np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    n_cells = max(1, min(n_cells, len(sample)))
    rng = np.random.RandomState(seed)
    centroids = sample[rng.choice(len(sample), n_cells, replace=False)]
    for _ in range(IVF_LLOYD):
        assign = (sample @ centroids.T).argmax(axis=1)
        for c in range(n_cells):
            members = sample[assign == c]
            if len(members):
                v = members.mean(axis=0)
                centroids[c] = v / max(np.linalg.norm(v), 1e-12)
    return centroids


def _assign_cells(em: DataFrame, b_cent) -> DataFrame:
    """(vec_id, embedding, cell): one Arrow-batched GEMM pass assigning
    each vector to its nearest (frozen, broadcast) centroid."""
    import numpy as np
    import pandas as pd

    def assign_cells(batches):
        cent = b_cent.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            mat /= np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "embedding": pdf["embedding"],
                    "cell": (mat @ cent.T).argmax(axis=1).astype("int32"),
                }
            )

    return em.select("vec_id", "embedding").mapInPandas(
        assign_cells, "vec_id long, embedding array<float>, cell int"
    )


def _probe_cells(queries: DataFrame, b_cent, nprobe: int) -> DataFrame:
    """(query_id, qemb, cell): each query (vec_id, embedding) fanned out
    to its ``nprobe`` nearest (frozen, broadcast) centroids — one GEMM
    per Arrow batch."""
    import numpy as np
    import pandas as pd

    def probe_cells(batches):
        cent = b_cent.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            mat /= np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
            )
            order = np.argsort(-(mat @ cent.T), axis=1)[:, :nprobe]
            rows = {"query_id": [], "qemb": [], "cell": []}
            for i in range(len(pdf)):
                for c in order[i]:
                    rows["query_id"].append(pdf["vec_id"].iloc[i])
                    rows["qemb"].append(pdf["embedding"].iloc[i])
                    rows["cell"].append(int(c))
            yield pd.DataFrame(rows)

    return queries.select("vec_id", "embedding").mapInPandas(
        probe_cells, "query_id long, qemb array<float>, cell int"
    )


def _probed_sims(probes: DataFrame, cells: DataFrame) -> DataFrame:
    """Exact cosine ``sim_raw`` of every (query, vector) pair that shares
    a probed cell: ``probes`` from ``_probe_cells`` joined on ``cell``
    to (vec_id, embedding, cell) rows, self-pairs dropped."""
    return (
        probes.join(cells, "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("sim_raw", cosine_sim(F.col("qemb"), F.col("embedding")))
    )


def _cell_range_clustered(assigned: DataFrame) -> DataFrame:
    """DELTA-add layout (r14): range-cluster the batch on cell into
    AQE-sized files instead of one file per touched cell. The r14
    per-phase sweep attributed the ``ingest_vector_arrival`` growth
    (exponent 0.38; add 0.70->1.47 s and compact 0.34->0.99 s across
    256x->1024x while probe stayed ~flat) to exactly this file-count
    term: the auto-sized cell count grows with the corpus
    (``_ivf_k``), so a FIXED 512-vector micro-batch was writing
    O(min(batch, n_cells)) near-empty files per trigger — at the
    k=4096 cap, 512 one-row object-store PUTs per batch, plus the
    same file count again through every tail compaction. With no
    explicit partition count, AQE sizes the range shuffle by bytes: a
    micro-batch writes ~1 file (whose wide cell range costs little —
    the whole file is tiny and the tail is bounded by the compaction
    threshold), while a backfill-scale add writes many files each
    covering a NARROW contiguous cell range (per-file min/max stats
    still prune probes to ~1 of them). The periodic tail-only
    compaction re-clusters the tail into the strict one-file-per-cell
    run layout either way, so steady-state probe I/O is unchanged."""
    return assigned.repartitionByRange(
        "cell", "vec_id"
    ).sortWithinPartitions("cell", "vec_id")


def _cell_clustered(
    spark: SparkSession, assigned: DataFrame, n_cells: int
) -> DataFrame:
    """Value-aligned layout via inverse-hash routing: hash-repartition on
    cell alone would collide cells into shared partitions (murmur3 mod
    n is not the identity) and a range repartition samples, so neither
    guarantees "one file per cell". Instead, precompute for each cell a
    SALT integer whose murmur3 hash lands in exactly that partition
    (one tiny Spark job over a candidate range — no Python reimplementation
    of the hash), route each row to its cell's salt, and hash-repartition
    on the salt. Every partition then holds exactly one cell value, the
    writer emits one file per partition, and each file's commit-log
    [min, max] on cell is a point — a probe opens exactly the probed
    cells' files. Partitions of cells ABSENT from the input are empty
    and write no file (this is what keeps ``ivf_add`` delta-only)."""
    probe = (
        spark.range(64 * n_cells)
        .select(
            F.col("id").cast("int").alias("salt"),
            F.pmod(F.hash(F.col("id").cast("int")), F.lit(n_cells)).alias(
                "p"
            ),
        )
        .groupBy("p")
        .agg(F.min("salt").alias("salt"))
        .collect()
    )
    salt_of = {r["p"]: r["salt"] for r in probe}
    assert len(salt_of) == n_cells, "salt probe range too small"
    route = F.array(*[F.lit(salt_of[c]) for c in range(n_cells)])[
        F.col("cell")
    ].cast("int")
    return (
        assigned.withColumn("_route", route)
        .repartition(n_cells, "_route")
        .sortWithinPartitions("cell", "vec_id")
        .drop("_route")
    )


def _ivf_build_extra(
    kind: str, meta: dict, meta_extra: dict | None
) -> dict:
    """The commit ``extra`` every (re)build stamps — shared by the two
    build paths and the staged rebuild so the sticky/run/drift rules
    can never diverge. ``meta_extra`` merges caller bookkeeping into
    the index metadata dict itself: the SOURCE BINDING
    (``{"namespace", "table", "id_col", "vec_col"}``) and
    ``recluster_threshold`` the ingest loop stamps (r14) are what let
    ``cli maintain --rebuild-indexes`` rebuild without re-supplying
    config, and ``source_version`` (the source table's version the
    build's corpus read covered) is what lets the ingest hook SKIP an
    add whose vectors a concurrent staged rebuild already encoded."""
    return {
        kind: {**meta, **(meta_extra or {})},
        # a build resets delete-drift: the zeroed cumulative marker
        # is sticky with latest-wins, so a pre-build delete folded
        # onto the same expiry boundary cannot resurrect its count
        "ivf_delete": {"n_deleted": 0, "cum_deleted": 0},
        # survives expire_snapshots even if this build commit folds
        # away (an index whose centroids expired is unprobeable)
        "sticky_extra": [kind, "ivf_delete"],
        # the build output IS a sorted run (one file per cell):
        # declaring it lets the ingest loop's tail-only compaction
        # carry it by reference instead of re-clustering a
        # freshly-built index on the next threshold crossing
        "cluster_run": {"mode": "cluster", "cols": ["cell"]},
    }


def _write_ivf(
    spark: SparkSession,
    t: LakehouseTable,
    em: DataFrame,
    n_cells: int,
    seed: int,
    writer_id: str | None = None,
    batch_id: int | None = None,
    meta_extra: dict | None = None,
) -> None:
    """Fit centroids, assign the full corpus, overwrite the index table
    as cell-clustered files with centroids in the commit extra.
    ``writer_id``/``batch_id`` stamp exactly-once idempotence ON the
    build's replace commit itself (ADVICE r11 #2: a separate marker
    append left a crash window where a replayed first micro-batch
    double-added its vectors)."""
    centroids = _fit_centroids(
        em, n_cells, seed, max(IVF_SAMPLE, 8 * n_cells)
    )
    n_cells = len(centroids)  # clamped to the sample when tiny
    b_cent = spark.sparkContext.broadcast(centroids)
    clustered = _cell_clustered(spark, _assign_cells(em, b_cent), n_cells)
    t.overwrite(
        clustered,
        writer_id=writer_id,
        batch_id=batch_id,
        extra=_ivf_build_extra(
            "ivf",
            {
                "n_cells": n_cells,
                "seed": seed,
                "centroids": [[float(x) for x in c] for c in centroids],
            },
            meta_extra,
        ),
    )


def build_ivf_index(
    spark: SparkSession,
    em: DataFrame,
    catalog: LakehouseCatalog,
    name: str = "emb_ivf",
    namespace: str | None = None,
    n_cells: int | None = None,
    seed: int = IVF_SEED,
    writer_id: str | None = None,
    batch_id: int | None = None,
    source: dict | None = None,
    source_version: int | None = None,
    recluster_threshold: float | None = None,
) -> LakehouseTable:
    """Build (or fully rebuild) the IVF index table for ``em``
    (vec_id, embedding). One ``overwrite`` commit: cell-clustered data
    files + centroids in the commit extra. ``n_cells=None`` (default)
    auto-sizes the cell count to the corpus (``_ivf_k``: one cheap
    count pass; small corpora keep the historical 16).
    ``source``/``source_version``/``recluster_threshold`` stamp the
    maintenance bookkeeping ``_ivf_build_extra`` documents (r14)."""
    schema = "vec_id long, embedding array<float>, cell int"
    t = catalog.get_or_create_table(
        name, spark.createDataFrame([], schema).schema, namespace
    )
    if n_cells is None:
        n_cells = _ivf_k(em.count())
    _write_ivf(
        spark,
        t,
        em,
        n_cells,
        seed,
        writer_id,
        batch_id,
        _index_meta_extra(source, source_version, recluster_threshold),
    )
    return t


def ivf_drift(t: LakehouseTable) -> float:
    """Fraction of the index CHANGED since the last full (re)build:
    (rows added + rows deleted after it) / rows at the rebuild. The
    recluster trigger — centroids were fitted on the rebuild-time
    distribution, and an index that has grown or shrunk 50% past it
    serves probes from stale cells."""
    base_rows: int | None = None
    added = 0
    dels_counted = False
    for s in reversed(t.snapshots()):
        # Deletes are read BEFORE the build-marker break so an expiry
        # boundary commit carrying BOTH a folded build and a folded
        # later delete still counts the delete. A marker with
        # "cum_deleted" is the running total since the build (stamped
        # sticky by ivf_delete, zeroed by every build), so the newest
        # one is counted ONCE and older markers are skipped — a folded-
        # away delete's count survives expire_snapshots (review r12;
        # pre-fix, delete-driven drift silently zeroed after expiry).
        de = s.extra.get("ivf_delete")
        if de is not None and not dels_counted:
            if "cum_deleted" in de:
                added += int(de["cum_deleted"])
                dels_counted = True
            else:  # legacy marker (pre-r12): per-commit count
                added += int(de.get("n_deleted", 0))
        # both index flavors rebase drift at their (re)build commit:
        # flat IVF stamps extra['ivf'], the codes-only composite
        # stamps extra['ivfpq'] (ivfpq_add documents drift as
        # observable through this function)
        if s.extra.get("ivf") or s.extra.get("ivfpq"):
            meta = s.extra.get("ivf") or s.extra.get("ivfpq")
            origin = (
                meta.get("_origin_num_rows")
                if isinstance(meta, dict)
                else None
            )
            if origin is not None:
                # expire_snapshots boundary carrying a FOLDED build: the
                # commit's num_rows is the merged expired prefix, not
                # the build-time corpus — rebase on the stamped origin
                # count and charge the folded growth to drift (ADVICE
                # r11 #3), so expiry neither understates drift nor
                # defers recluster
                base_rows = max(int(origin), 1)
                added += max(0, int(s.num_rows or 0) - base_rows)
            else:
                base_rows = max(int(s.num_rows or 0), 1)
            break
        if "ivf_add" in s.extra:
            # n_added in the extra is legacy (pre-r9 indexes); current
            # adds record a bare marker and the commit's own num_rows
            # is the count — no separate pre-count job ever ran
            added += int(
                s.extra["ivf_add"].get("n_added", s.num_rows or 0)
            )
    if base_rows is None:
        raise ValueError(
            f"{t.namespace}.{t.name} carries no IVF index metadata"
        )
    return added / base_rows


# default add-path tail-compaction threshold: delta adds write cell-RANGE
# files whose spans cover most cells, so a probe reads the whole
# uncompacted tail — sound only while every caller keeps it bounded
DELTA_COMPACT_TAIL = 64


def ivf_add(
    spark: SparkSession,
    t: LakehouseTable,
    new_em: DataFrame,
    recluster_threshold: float = 0.5,
    recluster: str = "inline",
    src_version: int | None = None,
    compact_tail_after: int | None = DELTA_COMPACT_TAIL,
    max_cluster_runs: int = 4,
    **append_kw,
) -> int | None:
    """Incremental index maintenance (the FAISS ``add`` split, VERDICT
    r7 #3): assign ONLY the new vectors to the FROZEN centroids of the
    current index (one Arrow GEMM pass over the delta — the corpus is
    never re-read) and append them as cell-RANGE-clustered files
    (``_cell_range_clustered``, r14: AQE-sized — ~1 file per
    micro-batch instead of one near-empty file per touched cell, the
    file-count term that grew with the corpus-scaled cell count).
    Existing files are untouched; probes prune the tail by the
    per-file cell ranges and read the bounded uncompacted tail at
    worst — the periodic tail-only compaction restores the
    one-file-per-cell run layout.

    Every add marks its commit (``extra["ivf_add"]``) and the commit's
    own footer-derived ``num_rows`` is the drift count — the delta plan
    executes exactly once, in the append's write; when the rows
    added since the last rebuild exceed ``recluster_threshold`` of the
    rebuild-time corpus, the index RECLUSTERS itself: re-fit centroids
    on the grown corpus (read back from the index table — one pass) and
    overwrite, resetting the drift counter. Snapshot isolation keeps
    concurrent searchers on their old index either way.

    ``recluster='defer'`` (r14, VERDICT r13 #1): SKIP the inline
    recluster — the add stamps its drift marker and returns, keeping
    the caller's inline work O(batch); a drifted index is rebuilt
    off-path by ``rebuild_if_drifted`` (``cli maintain
    --rebuild-indexes``). This is what the serial ingest hook passes:
    an inline recluster there is a full-corpus k-means + re-encode
    stalling that source's ingestion for the job's duration.

    ``src_version``: the source table version this delta's rows were
    appended at, recorded on the drift marker — the staged rebuild's
    repair pass uses it to decide exactly which concurrent adds its
    own corpus read already covered.

    ``compact_tail_after``/``max_cluster_runs``: once the unclustered
    tail reaches that many files the add first folds it (and pending
    ``ivf_delete`` deltas) into a one-file-per-cell run
    (``LakehouseTable.compact_tail``), so probe I/O stays <= max_runs x
    probed cells + the bounded tail for every caller; None disables.

    Returns the committed version (of the recluster, when triggered)."""
    centroids, n_cells = load_ivf_centroids(t)
    import numpy as np

    t.compact_tail(
        spark,
        compact_tail_after,
        cluster_by=["cell"],
        cluster_partitions=int(n_cells),
        max_cluster_runs=max_cluster_runs,
    )
    b_cent = spark.sparkContext.broadcast(
        np.asarray(centroids, dtype=np.float64)
    )
    clustered = _cell_range_clustered(_assign_cells(new_em, b_cent))
    # ONE materialization: append's parquet write is the only execution
    # of the assignment GEMM + salt-route plan; the drift counter reads
    # the row count back from the commit's footer-derived num_rows
    # instead of pre-running the same lazy plan through count()
    # (ADVICE r8 #3)
    # append_kw (writer_id/batch_id) makes a replayed ingest micro-batch
    # an idempotent no-op instead of a double-add
    marker = (
        {"src_v": int(src_version)} if src_version is not None else {}
    )
    version = t.append(clustered, extra={"ivf_add": marker}, **append_kw)
    if version is None:
        return None  # idempotent replay: nothing added, drift unchanged
    if recluster == "inline" and ivf_drift(t) > recluster_threshold:
        ivf = _build_meta(t, "ivf")
        corpus = t.read(spark).select("vec_id", "embedding")
        _write_ivf(
            spark,
            t,
            corpus,
            _ivf_k(corpus.count()),  # re-size k to the grown corpus
            int(ivf["seed"]) + 1,  # fresh sample draw on the grown corpus
            # carry the maintenance bookkeeping across the refit
            meta_extra={
                k: ivf[k]
                for k in ("source", "recluster_threshold")
                if k in ivf
            },
        )
        return t.version()
    return version


def _deleted_since_build(t: LakehouseTable) -> int:
    """Rows deleted since the last (re)build: the newest cumulative
    marker, plus any legacy per-commit markers newer than it (same walk
    rules as ivf_drift)."""
    total = 0
    for s in reversed(t.snapshots()):
        de = s.extra.get("ivf_delete")
        if de is not None:
            if "cum_deleted" in de:
                return total + int(de["cum_deleted"])
            total += int(de.get("n_deleted", 0))
        if s.extra.get("ivf") or s.extra.get("ivfpq"):
            break
    return total


def ivf_delete(
    spark: SparkSession,
    t: LakehouseTable,
    keys,
    recluster_threshold: float = 0.5,
) -> int:
    """Incremental index deletes (VERDICT r8 #3): vectors removed
    upstream (dedup, takedowns) leave the index WITHOUT a rebuild — a
    merge-on-read equality-delete delta lands on the index table via
    the lakehouse's existing MoR machinery (tombstone merge, no data
    file rewritten), and every probe path already anti-applies pending
    deltas at scan time, so deleted vectors stop surfacing immediately
    under snapshot isolation.

    ``keys`` is a list of vec_ids or a DataFrame with a ``vec_id``
    column. Deletes count toward DRIFT like adds do (a cell that lost
    half its members serves probes from a stale centroid just as a
    doubled cell does); past ``recluster_threshold`` the index refits
    on the surviving corpus — one snapshot-isolated overwrite that also
    folds the accumulated delete deltas away."""
    if isinstance(keys, (list, tuple)):
        kdf = spark.createDataFrame(
            [(int(k),) for k in keys], "vec_id long"
        )
    else:
        kdf = keys.select("vec_id")
    n_del = kdf.count()  # bounded: the delete key set, never the corpus
    # tombstone columns come from the TABLE's schema (review r14: a
    # hardcoded (embedding, cell) shape broke on the codes-only IVF-PQ
    # layout, whose files carry c0..c{m-1} instead of embeddings)
    tomb = kdf
    for fld in t.schema().fields:
        if fld.name != "vec_id":
            tomb = tomb.withColumn(
                fld.name, F.lit(None).cast(fld.dataType)
            )
    tomb = tomb.withColumn("_del", F.lit(True))
    cum = _deleted_since_build(t) + int(n_del)
    version = t.merge(
        spark,
        tomb,
        key="vec_id",
        delete_col="_del",
        strategy="mor",
        # cum_deleted = running total since the last build, stamped
        # sticky so expire_snapshots folding this commit away cannot
        # zero delete-driven drift (review r12)
        extra={
            "ivf_delete": {
                "n_deleted": int(n_del),
                "cum_deleted": int(cum),
            },
            "sticky_extra": ["ivf_delete"],
        },
    )
    if ivf_drift(t) > recluster_threshold:
        kind, ivf = latest_build_meta(t)
        if kind != "ivf":
            # codes-only IVF-PQ index: no floats to refit from — drift
            # stays pending and observable; rebuild_if_drifted (which
            # has the source binding) is the refit path
            return version
        corpus = t.read(spark).select("vec_id", "embedding")
        _write_ivf(
            spark,
            t,
            corpus,
            _ivf_k(corpus.count()),  # re-size k to the survivors
            int(ivf["seed"]) + 1,
            meta_extra={
                k: ivf[k]
                for k in ("source", "recluster_threshold")
                if k in ivf
            },
        )
        return t.version()
    return version


def load_ivf_centroids(t: LakehouseTable):
    """Centroids of the CURRENT index snapshot (its latest rebuild)."""
    import numpy as np

    ivf = _build_meta(t, "ivf")
    return np.array(ivf["centroids"], dtype=np.float64), int(ivf["n_cells"])


def ivf_index_search(
    spark: SparkSession,
    t: LakehouseTable,
    queries: DataFrame,
    k: int,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """Probe the persistent index: per query, score only the vectors in
    its ``nprobe`` nearest cells — read via ``scan`` so files of
    unprobed cells are never opened. Exact cosine + deterministic
    (sim DESC, vec_id) top-k within the probed candidate set."""
    from crest_spark.operators.similarity import rank_topk

    centroids, _ = load_ivf_centroids(t)
    b_cent = spark.sparkContext.broadcast(centroids)
    probes = _probe_cells(queries, b_cent, nprobe)
    probed_cells = sorted(
        {r["cell"] for r in probes.select("cell").distinct().collect()}
    )
    if not probed_cells:  # empty query set: empty result, not parts[0]
        return spark.createDataFrame(
            [], "query_id long, vec_id long, sim double, rn int"
        )
    # ONE pruned scan for the whole probed-cell set: the IN-list
    # predicate keeps the plan a single FileScan branch no matter how
    # many cells are probed (a per-cell scan union grew the physical
    # plan linearly in nprobe x |queries| — VERDICT r11 #5), while
    # file skipping still opens only files whose stats admit some
    # probed cell value.
    cand = t.scan(spark, {"cell": probed_cells})
    return rank_topk(_probed_sims(probes, cand), k)


# ------------------------------------------------------------------ IVF-PQ
PQ_TRAIN = 4096  # bounded driver-side PQ training sample
PQ_ITERS = 6
PQ_RERANK = 8  # exact re-rank width, x k candidates per query


def _fit_ivfpq_meta(em: DataFrame, n_cells: int, seed: int):
    """Driver-side IVF-PQ training (coarse centroids + residual
    codebooks) on bounded samples — O(sample), shared by the full
    build and the staged rebuild. Returns
    ``(centroids, books, m, k_codes, n_cells)``."""
    import numpy as np

    from crest_spark.operators.similarity import (
        fit_pq_codebooks,
        pq_m_for,
    )

    centroids = _fit_centroids(
        em, n_cells, seed, max(IVF_SAMPLE, 8 * n_cells)
    )
    n_cells = len(centroids)  # clamped to the sample when tiny
    sample = np.array(
        [r[0] for r in em.select("embedding").limit(PQ_TRAIN).collect()],
        dtype=np.float64,
    )
    sample /= np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    resid = sample - centroids[(sample @ centroids.T).argmax(1)]
    m = pq_m_for(sample.shape[1])
    k_codes = int(min(256, max(16, len(sample) // 8)))
    books = fit_pq_codebooks(resid, m, k_codes, PQ_ITERS, seed=seed + 1)
    k_codes = int(books.shape[1])  # fit clamps k to the sample when tiny
    return centroids, books, m, k_codes, n_cells


def _ivfpq_meta_dict(centroids, books, m: int, k_codes: int,
                     n_cells: int, seed: int) -> dict:
    """JSON-safe ``ivfpq`` commit-metadata dict for one (re)build."""
    return {
        "n_cells": n_cells,
        "m": m,
        "k": k_codes,
        "seed": seed,
        "centroids": [[float(x) for x in c] for c in centroids],
        "books": [
            [[float(x) for x in row] for row in bk] for bk in books
        ],
    }


def build_ivfpq_index(
    spark: SparkSession,
    em: DataFrame,
    catalog: LakehouseCatalog,
    name: str = "emb_ivfpq",
    namespace: str | None = None,
    n_cells: int | None = None,
    seed: int = IVF_SEED,
    writer_id: str | None = None,
    batch_id: int | None = None,
    source: dict | None = None,
    source_version: int | None = None,
    recluster_threshold: float | None = None,
) -> LakehouseTable:
    """IVF-PQ composite index (Jégou et al. 2011 §IV — the refinement
    the r10 verdict asked for): a coarse IVF quantizer routes each
    vector to a cell, and the RESIDUAL (vector - cell centroid) is
    product-quantized to m one-byte codes. The persisted artifact is a
    cell-clustered lakehouse table of (vec_id, cell, c0..c{m-1}) — no
    floats at all, ~64x smaller than the flat IVF index — with
    centroids AND codebooks in the commit extra, so a searcher needs
    one metadata read. A query's ADC scan then touches ONLY the code
    files of its probed cells (manifest-level skipping on the cell
    column): scan cost ~ nprobe/n_cells of the compressed corpus,
    versus all of it for flat PQ. Residual quantization also centers
    each cell's distribution, so the same codebook budget spends its
    resolution within cells instead of across the whole space.

    Both halves already existed here (flat IVF above, flat PQ in
    similarity.py); this composes them and lands the codes in
    reliable storage instead of ann_pq_topk's per-run localCheckpoint.
    ``source``/``source_version``/``recluster_threshold`` stamp the
    maintenance bookkeeping ``_ivf_build_extra`` documents (r14)."""
    if n_cells is None:
        n_cells = _ivf_k(em.count())
    centroids, books, m, k_codes, n_cells = _fit_ivfpq_meta(
        em, n_cells, seed
    )
    codes = _pq_encode_codes(spark, em, centroids, books, m)
    t = catalog.get_or_create_table(name, codes.schema, namespace)
    t.overwrite(
        _cell_clustered(spark, codes, n_cells),
        writer_id=writer_id,
        batch_id=batch_id,
        extra=_ivf_build_extra(
            "ivfpq",
            _ivfpq_meta_dict(centroids, books, m, k_codes, n_cells, seed),
            _index_meta_extra(source, source_version, recluster_threshold),
        ),
    )
    return t


def ivfpq_add(
    spark: SparkSession,
    t: LakehouseTable,
    new_em: DataFrame,
    src_version: int | None = None,
    compact_tail_after: int | None = DELTA_COMPACT_TAIL,
    max_cluster_runs: int = 4,
    **append_kw,
) -> int | None:
    """Incremental IVF-PQ maintenance (the FAISS ``add`` split for the
    composite index): encode ONLY the new vectors against the FROZEN
    coarse centroids + residual codebooks of the current index (one
    Arrow pass over the delta) and append them as cell-clustered code
    files. Unlike ``ivf_add``, no auto-recluster: the index holds
    codes only (no floats), so a re-fit needs the source embedding
    table — a drifted index is rebuilt off-path by
    ``rebuild_if_drifted`` (r14). The add still stamps the ``ivf_add``
    drift marker so that decision is observable; ``src_version`` (the
    source table version this delta's rows were appended at) rides on
    the marker so the staged rebuild's repair pass knows exactly which
    concurrent adds its corpus read covered. ``append_kw``
    (writer_id/batch_id) makes a replayed ingest micro-batch an
    idempotent no-op; the tail compaction is ``ivf_add``'s."""
    centroids, books, m, n_cells = load_ivfpq_meta(t)
    t.compact_tail(
        spark,
        compact_tail_after,
        cluster_by=["cell"],
        cluster_partitions=int(n_cells),
        max_cluster_runs=max_cluster_runs,
    )
    codes = _pq_encode_codes(spark, new_em, centroids, books, m)
    clustered = _cell_range_clustered(codes)
    marker = (
        {"src_v": int(src_version)} if src_version is not None else {}
    )
    return t.append(clustered, extra={"ivf_add": marker}, **append_kw)


def _pq_encode_codes(spark, em: DataFrame, centroids, books, m: int):
    """One Arrow pass: (vec_id, cell, c0..c{m-1}) residual PQ codes for
    ``em`` against frozen coarse centroids + codebooks (shared by the
    full build and the incremental add — same bytes either way)."""
    from crest_spark.operators.similarity import pq_assign

    dsub = centroids.shape[1] // m
    b_cent = spark.sparkContext.broadcast(centroids)
    b_books = spark.sparkContext.broadcast(books)
    code_schema = "vec_id long, cell int, " + ", ".join(
        f"c{j} int" for j in range(m)
    )

    def encode(batches):
        import numpy as np
        import pandas as pd

        cent, bks = b_cent.value, b_books.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            mat /= np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
            )
            cells = (mat @ cent.T).argmax(1)
            res = mat - cent[cells]
            out = pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cell": cells.astype("int32"),
                }
            )
            for j in range(m):
                sub = res[:, j * dsub : (j + 1) * dsub]
                out[f"c{j}"] = pq_assign(sub, bks[j]).astype("int32")
            yield out

    return em.select("vec_id", "embedding").mapInPandas(
        encode, code_schema
    )


def load_ivfpq_meta(t: LakehouseTable):
    """(centroids, codebooks, m, n_cells) of the current index snapshot."""
    import numpy as np

    meta = _build_meta(t, "ivfpq")
    return (
        np.array(meta["centroids"], dtype=np.float64),
        np.array(meta["books"], dtype=np.float64),
        int(meta["m"]),
        int(meta["n_cells"]),
    )


# ------------------------------------------------- staged drift rebuild (r14)


def latest_build_meta(t: LakehouseTable) -> tuple[str, dict]:
    """(kind, metadata dict) of the newest (re)build commit — walks the
    log head-first past adds/deletes/compactions to the latest ``ivf``
    or ``ivfpq`` stamp."""
    for s in reversed(t.snapshots()):
        for kind in ("ivfpq", "ivf"):
            meta = s.extra.get(kind)
            if meta:
                return kind, meta
    raise ValueError(
        f"{t.namespace}.{t.name} carries no IVF index metadata"
    )


def _build_meta(t: LakehouseTable, kind: str) -> dict:
    """Metadata of the newest (re)build, which must be a ``kind``
    (``"ivf"`` or ``"ivfpq"``) build."""
    try:
        got, meta = latest_build_meta(t)
    except ValueError:
        got = None
    if got != kind:
        label = "IVF" if kind == "ivf" else "IVF-PQ"
        raise ValueError(
            f"{t.namespace}.{t.name} carries no {label} index metadata"
        )
    return meta


def rebuild_pending(t: LakehouseTable, threshold: float | None = None) -> bool:
    """True when the index's accumulated drift exceeds its recluster
    threshold (the explicit one, or the value the ingest loop stamped
    at build time, default 0.5) — i.e. ``rebuild_if_drifted`` would
    act. The drift state is pure commit-log metadata, persisted by the
    adds/deletes themselves: a crash between the trigger being
    observable and a rebuild landing leaves this True, which is the
    re-triggerability contract (VERDICT r13 #1 done-criterion)."""
    _kind, meta = latest_build_meta(t)
    return ivf_drift(t) > _resolve_threshold(meta, threshold)


def _resolve_threshold(meta: dict, threshold: float | None) -> float:
    """Effective drift threshold: the caller's explicit value, else the
    one stamped at build time, else 0.5 — ONE copy of the rule shared
    by ``rebuild_pending`` and ``rebuild_if_drifted`` (review r14)."""
    if threshold is not None:
        return float(threshold)
    return float(meta.get("recluster_threshold", 0.5))


def _index_meta_extra(
    source: dict | None,
    source_version: int | None,
    recluster_threshold: float | None,
) -> dict:
    """Assemble the optional maintenance-bookkeeping keys one way
    (review r14: this dict was hand-built in three places)."""
    out: dict = {}
    if source:
        out["source"] = dict(source)
    if source_version is not None:
        out["source_version"] = int(source_version)
    if recluster_threshold is not None:
        out["recluster_threshold"] = float(recluster_threshold)
    return out


def _apply_index_deletes_to_source(
    spark: SparkSession,
    t: LakehouseTable,
    em: DataFrame,
    upto: int,
    src_label: str,
) -> DataFrame:
    """Apply the index's PENDING MoR delete entries at ``upto`` to a
    source-table re-read (the IVF-PQ rebuild path): equality entries
    anti-join their recorded key files; predicate entries apply when
    they constrain ``vec_id`` alone (the realistic index-delete
    shape). A predicate on index-internal columns (e.g. ``cell``)
    cannot be translated to source rows — and cell assignments change
    with the new centroids anyway — so the rebuild refuses loudly:
    compact the index first (folding the deletes), then rebuild."""
    import os

    eq_paths: list[str] = []
    for e in t.pending_deletes(version=upto):
        pred = e.get("pred")
        if pred is not None:
            if not set(pred) <= {"vec_id"}:
                raise ValueError(
                    f"{src_label}: a pending predicate delete on "
                    f"columns {sorted(pred)} cannot be applied to the "
                    "source re-read — run compact() on the index to "
                    "fold pending deletes, then rebuild"
                )
            lo, hi = pred.get("vec_id", (None, None))
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col("vec_id") >= lo)
            if hi is not None:
                cond = cond & (F.col("vec_id") <= hi)
            em = em.where(~cond)
        else:
            if list(e.get("keys") or []) != ["vec_id"]:
                raise ValueError(
                    f"{src_label}: a pending equality delete keyed by "
                    f"{e.get('keys')} cannot be applied to the source "
                    "re-read — run compact() on the index first"
                )
            eq_paths.extend(
                p for p in e.get("paths", []) if os.path.exists(p)
            )
    if eq_paths:
        # no broadcast hint: AQE promotes the (typically tiny) key set
        # itself, and a backfill-scale delete must not ride executor
        # memory (same policy as _apply_pending_deletes)
        keys = (
            spark.read.parquet(*eq_paths).select("vec_id").distinct()
        )
        em = em.join(keys, "vec_id", "left_anti")
    return em


_REBUILD_MAX_PASSES = 50


def rebuild_if_drifted(
    spark: SparkSession,
    t: LakehouseTable,
    catalog: LakehouseCatalog | None = None,
    source_table: LakehouseTable | None = None,
    id_col: str | None = None,
    vec_col: str | None = None,
    threshold: float | None = None,
    force: bool = False,
) -> int | None:
    """Staged drift rebuild — the maintenance-path replacement for the
    inline rebuild the serial ingest hook used to run (VERDICT r13 #1:
    at 100 TB a full k-means + re-encode inside ``foreachBatch`` stalls
    that source's ingestion for hours at the trigger). The hook now
    only STAMPS drift (``ivf_add`` markers) and keeps committing; this
    entry point (``cli maintain --rebuild-indexes``, or any side job)
    does the O(corpus) work off-path and publishes atomically:

    1. Read the corpus at a pinned snapshot — the index table itself at
       ``b0`` for flat IVF (it holds floats), the bound SOURCE table at
       ``s0`` for IVF-PQ (codes can't re-fit themselves) — fit the new
       quantizers, encode, and WRITE the new cell-clustered files ONCE
       (``_prepare_replace``: files on disk, no commit — a crash here
       leaves only vacuum-reclaimable orphans and the old index fully
       probeable, and the drift markers persist so the rebuild
       re-triggers).
    2. Repair loop: concurrent micro-batches kept LANDING adds while
       step 1 ran. Each pending add commit is re-encoded against the
       NEW quantizers from its delta — flat IVF reads the add's own
       files (they hold embeddings); IVF-PQ fetches the add's vec_ids
       from the source by pruned scan, skipping adds the ``s0`` read
       already covered (their ``src_v`` stamp, or an exact
       membership probe at ``s0`` for unstamped legacy adds). Each
       repair is O(batch), never O(corpus).
    3. Publish: ONE conditional ``replace`` (``expected_version`` =
       the head the repair pass saw). A ``CommitConflict`` means
       another add landed in the tiny metadata window — loop back to
       step 2, repair just that delta, retry. Unlike re-running the
       whole build per conflict, the bounded-delta retry terminates
       even when micro-batches land faster than a corpus encode. The
       repairs' files are NOT declared part of the build's sorted run
       (they are range- not point-clustered on cell), so the next
       tail compaction re-clusters them (review r14).
    4. MoR deletes ride IN the publish commit (review r14: a
       post-publish re-apply left a crash window that permanently
       resurrected deleted vectors, and could not work on a codes
       table at all): every delete entry that landed after ``b0`` —
       equality AND predicate form, even if a mid-rebuild compaction
       already folded it into files this replace discards — is
       carried in the replace's ``deletes`` extra with exact scoping
       (build files stamp ``file_seq=b0``, each repair its add
       commit's version), so a delete applies to the corpus and to
       earlier adds but never to a row re-added after it. Entries
       still pending AT ``b0`` need no carry: the flat corpus read
       applies them at scan, and the IVF-PQ source re-read applies
       them explicitly (``_apply_index_deletes_to_source``) before
       encoding. Searchers keep the old index throughout — snapshot
       isolation — and the landed build rebases drift to ~0.

    Returns the committed version, or None when drift is at-or-below
    the threshold (pass ``force=True`` to rebuild regardless).

    Races NOT defended: a concurrent INLINE recluster or second
    rebuild job on the same index (last writer wins — run one
    maintenance job per index), and ``expire_snapshots`` + ``vacuum``
    aggressive enough to reclaim a concurrent add's files mid-repair
    (pause retention jobs for the index table while a rebuild runs)."""
    import os

    import numpy as np

    kind, meta = latest_build_meta(t)
    thr = _resolve_threshold(meta, threshold)
    if not force and ivf_drift(t) <= thr:
        return None
    seed = int(meta.get("seed", IVF_SEED)) + 1
    binding = dict(meta.get("source") or {})
    b0 = t.version()
    meta_extra: dict = {"recluster_threshold": thr}
    if kind == "ivfpq":
        if source_table is not None:
            src_t = source_table
        elif catalog is not None and binding.get("table"):
            src_t = catalog.table(
                binding["table"], binding.get("namespace")
            )
        else:
            raise ValueError(
                f"{t.namespace}.{t.name}: an IVF-PQ rebuild needs the "
                "source embedding table (codes hold no floats) — pass "
                "source_table=/catalog=, or build the index with a "
                "source binding (the ingest loop stamps one)"
            )
        icol = id_col or binding.get("id_col", "vec_id")
        vcol = vec_col or binding.get("vec_col", "embedding")
        s0 = src_t.version()
        em = src_t.read(spark, version=s0).select(
            F.col(icol).alias("vec_id"), F.col(vcol).alias("embedding")
        )
        # deletes still PENDING on the index at b0 must be applied to
        # the source re-read explicitly (review r14): a flat corpus
        # read resolves them via the MoR scan, but the source table
        # never saw them — without this, genuinely deleted vectors
        # resurrect through the rebuild
        em = _apply_index_deletes_to_source(
            spark, t, em, b0, src_label=f"{t.namespace}.{t.name}"
        )
        meta_extra["source_version"] = int(s0)
        if binding:
            meta_extra["source"] = binding
    else:
        em = t.read(spark, version=b0).select("vec_id", "embedding")
        if binding:
            meta_extra["source"] = binding

    # ---- step 1: the one O(corpus) pass — fit, encode, write files
    n_cells = _ivf_k(em.count())
    if kind == "ivf":
        centroids = _fit_centroids(
            em, n_cells, seed, max(IVF_SAMPLE, 8 * n_cells)
        )
        n_cells = len(centroids)
        b_cent = spark.sparkContext.broadcast(
            np.asarray(centroids, dtype=np.float64)
        )
        clustered = _cell_clustered(
            spark, _assign_cells(em, b_cent), n_cells
        )
        new_meta = {
            "n_cells": n_cells,
            "seed": seed,
            "centroids": [[float(x) for x in c] for c in centroids],
        }
    else:
        centroids, books, m, k_codes, n_cells = _fit_ivfpq_meta(
            em, n_cells, seed
        )
        clustered = _cell_clustered(
            spark,
            _pq_encode_codes(spark, em, centroids, books, m),
            n_cells,
        )
        new_meta = _ivfpq_meta_dict(
            centroids, books, m, k_codes, n_cells, seed
        )
    prepared = [t._prepare_replace(clustered)]

    # ---- steps 2+3: bounded-delta repair + conditional publish.
    # Carried deletes are the entries recorded AFTER b0 (pending-at-b0
    # entries were already resolved: the flat corpus read applies them
    # at scan, the IVF-PQ source re-read applied them above). Scoping
    # is preserved exactly: build files stamp file_seq=b0 and each
    # repair stamps its add commit's version, so a carried entry at
    # seq T applies to the build corpus and to repairs of adds <= T,
    # but NOT to a row re-ADDED after the delete (review r14 — a
    # uniform seq-0 stamp would have killed such re-adds).
    carried_deletes: list[dict] = []
    repaired: set[int] = set()
    seen_deletes: set[int] = set()

    def attempt(head: int, state: dict) -> int:
        tail = [s for s in t.snapshots() if s.version > b0]
        for s in tail:
            # EVERY delete entry recorded after b0 joins the carry —
            # equality (ivf_delete) and predicate (delete(mode='mor'))
            # alike, collected from the recording commit itself so a
            # mid-rebuild compaction that folded it into files this
            # replace discards cannot lose it (review r14)
            if s.version not in seen_deletes:
                seen_deletes.add(s.version)
                carried_deletes.extend(
                    dict(e) for e in s.extra.get("deletes") or []
                )
        pend = [
            s
            for s in tail
            if "ivf_add" in s.extra and s.version not in repaired
        ]
        if pend:
            repaired.update(s.version for s in pend)
            # one repair per ADD COMMIT: each prepared set carries its
            # own file_seq stamp, which is what keeps the carried
            # deletes' scoping exact (see above)
            for s in pend:
                fls = [f for f in s.files if os.path.exists(f)]
                if not fls:
                    continue
                if kind == "ivf":
                    delta = spark.read.parquet(*fls).select(
                        "vec_id", "embedding"
                    )
                    rep = t._prepare_replace(
                        _cell_range_clustered(
                            _assign_cells(delta, b_cent)
                        )
                    )
                else:
                    sv = (s.extra.get("ivf_add") or {}).get("src_v")
                    if sv is not None and int(sv) <= s0:
                        continue  # covered by the s0 source read
                    ids = {
                        r[0]
                        for r in spark.read.parquet(*fls)
                        .select("vec_id")
                        .distinct()
                        .collect()
                    }
                    if sv is None and ids:
                        # legacy add without a src_v stamp: exact
                        # coverage check — ids present in the source
                        # at s0 were in the build's corpus read (ids
                        # are append-once)
                        at_s0 = {
                            r[0]
                            for r in src_t.scan(
                                spark,
                                {icol: sorted(ids)},
                                version=s0,
                            )
                            .select(icol)
                            .collect()
                        }
                        ids -= at_s0
                    if not ids:
                        continue
                    delta = src_t.scan(
                        spark, {icol: sorted(ids)}
                    ).select(
                        F.col(icol).alias("vec_id"),
                        F.col(vcol).alias("embedding"),
                    )
                    rep = t._prepare_replace(
                        _cell_range_clustered(
                            _pq_encode_codes(
                                spark, delta, centroids, books, m
                            )
                        )
                    )
                # range- not point-clustered: must stay OUT of the
                # declared run so the next tail compaction re-clusters
                # it (review r14)
                rep["cluster_run_member"] = False
                rep["file_seq_stamp"] = int(s.version)
                prepared.append(rep)
        extra = _ivf_build_extra(kind, new_meta, meta_extra)
        if carried_deletes:
            # atomic carry (review r14): the entries land ON the
            # publish commit with the per-set seq stamps above, so the
            # deletes keep applying at scan — correctly scoped — with
            # no post-publish window and no second commit
            extra["deletes"] = carried_deletes
            extra["file_seq"] = {
                f: int(p.get("file_seq_stamp", b0))
                for p in prepared
                for f in p["files"]
            }
        # a writer that landed in the metadata window (or during the
        # repairs above) moves the head past ``head``: the conflict
        # retries on a fresh head and repairs just that delta
        return t._commit_prepared_replace(
            prepared,
            extra=extra,
            expected_version=head,
        )

    return t._retrying("rebuild", attempt, _REBUILD_MAX_PASSES)


def ivfpq_search(
    spark: SparkSession,
    t: LakehouseTable,
    em: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int = IVF_NPROBE,
    rerank: int = PQ_RERANK,
) -> DataFrame:
    """Probe the IVF-PQ index: per query, asymmetric-distance scan over
    ONLY the probed cells' code files (a single IN-list pruned scan —
    one plan branch regardless of nprobe), per-batch shortlist
    pre-truncation, then EXACT re-rank: a semi-join-sized fetch of the
    shortlist vectors from ``em`` scores true cosine, so reported sims
    are exact and deterministic (sim DESC, vec_id tie-break). LUTs are
    per (query, probed cell): with residual codes the distance is
    ||(q - centroid_cell) - r_x||^2, so the table depends on the cell —
    nprobe small (m x k) tables per query, built driver-side and
    broadcast GROUPED BY CELL so each Arrow batch evaluates only its
    own cells' queries."""
    import numpy as np

    from crest_spark.operators.similarity import (
        pq_lut,
        pq_rerank,
        unit_queries,
    )

    centroids, books, m, _n_cells = load_ivfpq_meta(t)
    q_ids, q_mat = unit_queries(queries)
    if not len(q_ids):
        return spark.createDataFrame(
            [], "query_id long, vec_id long, sim double, rn int"
        )
    order = np.argsort(-(q_mat @ centroids.T), axis=1)[:, :nprobe]
    # luts[(qid, cell)] = (m, k) ADC table for that query's residual
    luts = {
        (int(qid), int(c)): pq_lut(books, q_mat[qi] - centroids[c])
        for qi, qid in enumerate(q_ids)
        for c in order[qi]
    }
    probed_cells = sorted({c for (_q, c) in luts})
    # ONE pruned scan over the probed-cell set (IN-list predicate):
    # the physical plan is a single FileScan branch regardless of
    # nprobe x |queries| (VERDICT r11 #5); unprobed cells' files are
    # still never opened.
    codes = t.scan(spark, {"cell": probed_cells})
    shortlist = k * rerank
    # LUTs grouped BY CELL: each Arrow batch evaluates only the
    # queries that probed the cells actually present in the batch —
    # not every (query, cell) LUT against a full-batch mask.
    by_cell: dict[int, list] = {}
    for (qid, c), lut in luts.items():
        by_cell.setdefault(c, []).append((qid, lut))
    b_luts = spark.sparkContext.broadcast(by_cell)

    def adc(batches):
        import numpy as np
        import pandas as pd

        tabs_by_cell = b_luts.value
        cols = np.arange(m)
        for pdf in batches:
            if pdf.empty:
                continue
            cm = np.stack([pdf[f"c{j}"].to_numpy() for j in range(m)], axis=1)
            vec_ids = pdf["vec_id"].to_numpy()
            cells = pdf["cell"].to_numpy()
            frames = []
            # contiguous per-cell row blocks via one stable sort; the
            # per-block work is each block's OWN queries only (cell-
            # clustered files make most batches single-cell anyway)
            order_b = np.argsort(cells, kind="stable")
            cs, starts = np.unique(cells[order_b], return_index=True)
            bounds = np.append(starts, len(order_b))
            for ci, c in enumerate(cs):
                qlist = tabs_by_cell.get(int(c))
                if not qlist:
                    continue
                blk = order_b[bounds[ci] : bounds[ci + 1]]
                sub_cm = cm[blk]
                sub_v = vec_ids[blk]
                for qid, lut in qlist:
                    est = lut[cols[None, :], sub_cm].sum(1)
                    v = sub_v
                    keep = v != qid
                    if not keep.all():
                        est, v = est[keep], v[keep]
                    if len(est) > shortlist:  # per-batch pre-truncation
                        idx = np.argpartition(est, shortlist)[:shortlist]
                        est, v = est[idx], v[idx]
                    if len(est):
                        frames.append(
                            pd.DataFrame(
                                {"query_id": qid, "vec_id": v, "est": est}
                            )
                        )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    cand = codes.mapInPandas(adc, "query_id long, vec_id long, est double")
    return pq_rerank(spark, cand, em, q_ids, q_mat, shortlist, k)


@register(
    "ann_ivfpq_topk",
    oracle=None,  # seeded coarse+residual codebooks: approximate by
    # design; recall floor + determinism pytest-gated (test_vector_index)
    tags=("llm", "similarity", "ann", "pq", "ivf", "index"),
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: build the persisted composite index once (cell-clustered
    uint8 residual codes + centroids/codebooks in commit metadata),
    then answer top-k by ADC over probed cells only + exact re-rank —
    the 100 TB serving shape where query cost is nprobe/n_cells of a
    64x-compressed corpus."""
    import tempfile

    from crest_spark.operators.similarity import _ANN_K, _N_QUERIES

    em = load_table(spark, sf_dir, "embeddings")
    cat = LakehouseCatalog(tempfile.mkdtemp(prefix="crest_ivfpq_"))
    t = build_ivfpq_index(spark, em, cat)
    queries = em.where(F.col("vec_id") < _N_QUERIES)
    return ivfpq_search(spark, t, em, queries, k=_ANN_K, nprobe=8)


@register(
    "ann_ivf_indexed_topk",
    oracle=None,  # seeded centroids: approximate by design; recall +
    # file-pruning contracts are pytest-gated (test_vector_index.py)
    tags=("llm", "similarity", "ann", "index"),
)
def ann_ivf_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once / probe-many IVF: the index table is built (one
    corpus pass, cell-clustered files, centroids in commit metadata),
    then searched through the PERSISTED artifact with manifest-level
    file skipping — the serving-path twin of ``ann_ivf_topk``, which
    recomputes everything per call."""
    import tempfile

    em = load_table(spark, sf_dir, "embeddings")
    cat = LakehouseCatalog(tempfile.mkdtemp(prefix="crest_ivf_"))
    t = build_ivf_index(spark, em, cat)
    queries = em.where(F.col("vec_id") < 5)
    return ivf_index_search(spark, t, queries, k=5)


@register(
    "lake_index_rebuild_roundtrip",
    oracle=(
        # the staged rebuild's exactly-once membership contract is
        # EXACT even though cell assignments are seeded: after
        # build(first half) -> deferred adds(second half) -> off-path
        # rebuild, the index holds precisely the source's vec_ids —
        # no vector lost to the replace, none double-encoded
        "SELECT vec_id, COUNT(*) AS n_copies FROM embeddings "
        "GROUP BY vec_id ORDER BY vec_id"
    ),
    tags=("llm", "lakehouse", "index", "maintenance", "ann"),
)
def lake_index_rebuild_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The r14 staged-maintenance flow end-to-end under the driver's
    hash gate (VERDICT r13 #1): build a flat IVF index from half the
    embeddings corpus, land the other half as DEFERRED adds (drift
    stamped, no inline recluster — the serial-hook contract), then
    publish the off-path rebuild (``rebuild_if_drifted``: corpus
    re-read at a pinned snapshot, write-once files, conditional
    replace). The returned (vec_id, n_copies) set must hash-match the
    source table exactly: every vector present, exactly once — the
    membership invariant the whole repair/skip protocol exists to
    preserve. Drift is asserted rebased inline (a failed rebuild
    cannot silently pass as a correct roundtrip)."""
    import tempfile

    em = load_table(spark, sf_dir, "embeddings")
    mid = em.approxQuantile("vec_id", [0.5], 0.0)[0]
    cat = LakehouseCatalog(tempfile.mkdtemp(prefix="crest_rebuild_"))
    t = build_ivf_index(
        spark,
        em.where(F.col("vec_id") < mid),
        cat,
        name="ivf_roundtrip",
        recluster_threshold=0.5,
    )
    ivf_add(spark, t, em.where(F.col("vec_id") >= mid), recluster="defer")
    assert rebuild_pending(t)  # drift observable, nothing rebuilt yet
    assert rebuild_if_drifted(spark, t) is not None
    assert ivf_drift(t) == 0.0  # the landed build rebased drift
    return (
        t.read(spark)
        .groupBy("vec_id")
        .agg(F.count("*").cast("long").alias("n_copies"))
        .orderBy("vec_id")
    )
