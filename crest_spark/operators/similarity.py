"""Similarity search over embedding columns (``array<float>``).

Six entries, in increasing scale posture:

  q22_cosine_topk     single query vector, brute-force, pure Catalyst fold
  ann_brute_topk      K query vectors x N corpus, Arrow/numpy matmul
  ann_lsh_topk        random-hyperplane LSH bucketing (sub-quadratic)
  ann_ivf_topk        IVF cells, refit and reassigned per call
  knn_self_join_topk  exact top-k for EVERY vector, block-pair GEMM
  ann_pq_topk         product-quantized ADC scan + exact re-rank

At 100 TB the corpus side stays partitioned; query vectors are broadcast
(driver-side literal or broadcast join); the numpy path processes Arrow
batches (no per-row Python), and LSH trades recall for candidate-set size.

One copy of each vector kernel, shared with the persisted IVF/IVF-PQ
index (``vector_index.py``) and the cosine pair miner (``dedup.py``):

  rank_topk          the (rounded sim DESC, id ASC) top-k tail of every
                     entry here but q22 and of both index searches
  pq_assign, pq_lut  PQ subspace assignment and the ADC lookup table
  pq_rerank          ADC shortlist window + exact re-rank of the
                     shortlist (``ann_pq_topk`` and ``ivfpq_search``)
  ann_ivf_topk       runs on the index's centroid fit, cell assignment
                     and probe kernels, lazily imported from
                     ``vector_index``
  knn_self_join_topk plans its block pairs with ``dedup.block_pairs``,
                     the planner of ``embedding_cosine_pairs``
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from crest_spark.functions.stable import round4
from crest_spark.functions.vectors import cosine_sim
from crest_spark.registry import register
from crest_spark.sources.tables import load_table

from crest_spark.operators.dedup import (
    _DUCK_COS,  # shared oracle cosine
    block_key,
    block_pairs,
)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def rank_topk(
    df: DataFrame,
    k: int,
    raw: str = "sim_raw",
    by: str = "query_id",
    item: str = "vec_id",
) -> DataFrame:
    """The one ranking tail of the vector entries: ``raw`` rounded to 4
    dp as ``sim``, ``row_number`` per ``by`` over (sim DESC, ``item``
    ASC), the first ``k`` kept as (``by``, ``item``, sim, rn) ordered by
    (``by``, rn). Ranking on the ROUNDED sim with an id tie-break keeps
    1e-16 float noise between engines from flipping ranks."""
    w = Window.partitionBy(by).orderBy(F.desc("sim"), F.asc(item))
    return (
        df.withColumn("sim", F.expr(round4(raw)))
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .where(F.col("rn") <= k)
        .select(by, item, "sim", "rn")
        .orderBy(by, "rn")
    )


@register(
    "q22_cosine_topk",
    oracle=f"""
        WITH q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0),
        scored AS (
            SELECT b.vec_id,
                   {round4(_DUCK_COS.replace('a.embedding', 'q.qemb'))} AS sim
            FROM embeddings b CROSS JOIN q
            WHERE b.vec_id <> 0
        )
        SELECT vec_id, sim FROM scored
        ORDER BY sim DESC, vec_id
        LIMIT 10
    """,
    tags=("llm", "similarity", "topk"),
)
def q22_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine neighbors of vec_id=0: the query vector is a 64-float
    broadcast literal (no join at all on the probe side); ordering is on
    the ROUNDED similarity so engine-level 1e-16 float noise cannot flip
    ranks — ties broken by vec_id."""
    em = _emb(spark, sf_dir)
    qvec = em.where(F.col("vec_id") == 0).select("embedding").first()[0]
    qlit = F.array(*[F.lit(float(v)) for v in qvec])
    scored = (
        em.where(F.col("vec_id") != 0)
        .withColumn("_sim_raw", cosine_sim(F.col("embedding"), qlit))
        .select("vec_id", F.expr(round4("_sim_raw")).alias("sim"))
    )
    return scored.orderBy(F.desc("sim"), "vec_id").limit(10)


_ANN_K = 5  # neighbors per query
_N_QUERIES = 5  # vec_ids 0..4 are the query set


@register(
    "ann_brute_topk",
    oracle=f"""
        WITH pairs AS (
            SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
                   {round4(_DUCK_COS)} AS sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < {_N_QUERIES}
             AND b.vec_id <> a.vec_id
        ),
        ranked AS (
            SELECT query_id, vec_id, sim,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, vec_id) AS rn
            FROM pairs
        )
        SELECT query_id, vec_id, sim, CAST(rn AS INT) AS rn
        FROM ranked WHERE rn <= {_ANN_K}
        ORDER BY query_id, rn
    """,
    tags=("llm", "similarity", "ann"),
)
def ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact K-NN for a query set via Arrow-batched numpy matmul.

    The Q query vectors are broadcast to every task inside a closure; each
    Arrow batch of the corpus becomes one numpy (B x D) block and a single
    (B x D)@(D x Q) GEMM scores all query-corpus pairs in the batch —
    no per-row Python, no shuffle until the final per-query top-k
    (a window over Q*K candidate rows after per-batch pre-truncation)."""
    import numpy as np

    em = _emb(spark, sf_dir)
    qrows = (
        em.where(F.col("vec_id") < _N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    q_mat = np.array([r[1] for r in qrows], dtype=np.float64)
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)

    out_schema = "query_id long, vec_id long, sim_raw double"

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            sims = (mat / norms) @ q_norm.T  # (B x Q)
            vec_ids = pdf["vec_id"].to_numpy()
            frames = []
            for qi, qid in enumerate(q_ids):
                mask = vec_ids != qid
                s = sims[mask, qi]
                v = vec_ids[mask]
                # per-batch pre-truncation with a tie-safety margin (final
                # ranking is on ROUNDED sim; margin >> any plausible number
                # of 1e-4-tied candidates at the cut)
                keep = _ANN_K + 16
                if len(s) > keep:
                    idx = np.argpartition(-s, keep)[:keep]
                    s, v = s[idx], v[idx]
                frames.append(
                    pd.DataFrame(
                        {"query_id": qid, "vec_id": v, "sim_raw": s}
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    candidates = em.select("vec_id", "embedding").mapInPandas(score, out_schema)
    return rank_topk(candidates, _ANN_K)


_ANN_LSH_BANDS = 4  # bands (16 signature bits reserved per band)
_ANN_TARGET_BUCKET = 64  # desired bucket occupancy: sets the band width
_ANN_MAX_BUCKET = 512  # hard per-bucket cap (skew guard)


def ann_lsh_band_width(n_corpus: int) -> int:
    """Band width (bits) so expected bucket occupancy ~= the target.

    Bucket-key cardinality must GROW with the corpus or LSH degrades to
    a near-linear scan: a fixed narrow width (the round-1 defect: 4 bits
    -> 64 keys total) gives N/16 candidates per query and 64-way max
    shuffle parallelism at any N. width = log2(N / target) holds
    occupancy ~constant: 4 bits at 1k docs, 16 bits (65k keys/band) at
    4M+, candidates ~= bands * target regardless of corpus size."""
    import math

    if n_corpus <= _ANN_TARGET_BUCKET:
        return 4
    return min(16, max(4, math.ceil(math.log2(n_corpus / _ANN_TARGET_BUCKET))))


@register("ann_lsh_topk", oracle=None, tags=("llm", "similarity", "ann", "lsh"))
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate K-NN via random-hyperplane (sign) LSH.

    64-bit signatures (one Arrow-batched numpy GEMM against 64 seeded
    hyperplanes — the per-plane Catalyst fold is interpreted, not
    codegen'd, and was the slow path); corpus bucketed by signature band
    (4 bands x ``ann_lsh_band_width(N)`` bits, so key cardinality scales
    with the corpus), queries probe their buckets only, exact cosine
    re-ranks the candidates. Two skew defenses: adaptive width keeps
    expected occupancy ~64, and a hard per-bucket cap (row_number over
    a deterministic hash order) bounds the worst case — an adversarial
    corpus of near-identical vectors costs recall, never a hot-key
    stall. Approximate => no SQL oracle; pytest measures recall vs
    ann_brute_topk."""
    import numpy as np

    em = _emb(spark, sf_dir)
    width = ann_lsh_band_width(em.count())
    dim = 64
    rng = np.random.RandomState(7)
    planes = rng.standard_normal((_ANN_LSH_BANDS * 16, dim))

    def sign_sigs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            bits = (mat @ planes.T) > 0  # (B x 64)
            sig = np.packbits(bits, axis=1, bitorder="little").view(np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "embedding": pdf["embedding"],
                    "sig": sig.ravel(),
                }
            )

    sigged = em.select("vec_id", "embedding").mapInPandas(
        sign_sigs, "vec_id long, embedding array<float>, sig long"
    )
    mask = (1 << width) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.shiftright(F.col("sig"), bi * 16)
                .bitwiseAND(F.lit(mask))
                .alias("chunk"),
            )
            for bi in range(_ANN_LSH_BANDS)
        ]
    )
    exploded = sigged.select(
        "vec_id", "embedding", F.explode(bands).alias("bk")
    ).select(
        "vec_id",
        "embedding",
        F.col("bk.band").alias("band"),
        F.col("bk.chunk").alias("chunk"),
    )
    # skew guard: cap corpus-side bucket membership deterministically
    wcap = Window.partitionBy("band", "chunk").orderBy(F.xxhash64("vec_id"))
    corpus = (
        exploded.withColumn("_rn", F.row_number().over(wcap))
        .where(F.col("_rn") <= _ANN_MAX_BUCKET)
        .drop("_rn")
    )
    queries = exploded.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qemb"),
        "band",
        "chunk",
    )
    cand = (
        queries.join(corpus, ["band", "chunk"])
        .where(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
        .withColumn("sim_raw", cosine_sim(F.col("qemb"), F.col("embedding")))
    )
    return rank_topk(cand, _ANN_K)


@register("ann_ivf_topk", oracle=None, tags=("llm", "similarity", "ann", "ivf"))
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate K-NN via IVF (inverted-file) partitioning.

    Centroids are fit driver-side on a deterministic sample (seeded
    k-means, a few Lloyd iterations on <=2k vectors — O(sample) not
    O(corpus)), then broadcast; every corpus vector is assigned to its
    nearest centroid cell in one Arrow-batched GEMM pass, and each query
    probes only its ``nprobe`` nearest cells. Candidate count scales with
    cell occupancy — the classic sub-linear ANN layout (FAISS IVF-flat
    shape) expressed as a Spark shuffle key. Approximate => no SQL
    oracle; pytest measures recall vs ann_brute_topk.

    The fit, assignment and probe are the persisted index's own kernels
    (``vector_index.py``: 16 cells, seed 13, a 2,000-vector sample, 4
    probed cells); only the index table is missing."""
    from crest_spark.operators.vector_index import (
        IVF_CELLS,
        IVF_NPROBE,
        IVF_SAMPLE,
        IVF_SEED,
        _assign_cells,
        _fit_centroids,
        _probe_cells,
        _probed_sims,
    )

    em = _emb(spark, sf_dir)
    b_cent = spark.sparkContext.broadcast(
        _fit_centroids(em, IVF_CELLS, IVF_SEED, IVF_SAMPLE)
    )
    queries = _probe_cells(
        em.where(F.col("vec_id") < _N_QUERIES), b_cent, IVF_NPROBE
    )
    return rank_topk(_probed_sims(queries, _assign_cells(em, b_cent)), _ANN_K)


_KNN_K = 3  # neighbors per corpus vector
_KNN_SLACK = 16  # per-block-pair tie-safety margin (see ann_brute_topk)
_DUCK_NORM = (
    "sqrt(list_sum(list_transform(embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)
_DUCK_DOT = (
    "list_sum(list_transform(generate_series(1, len(a.embedding)),"
    " i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
)


@register(
    "knn_self_join_topk",
    oracle=f"""
        WITH n AS (
            SELECT vec_id, embedding, {_DUCK_NORM} AS nrm FROM embeddings
        ),
        pairs AS (
            SELECT a.vec_id AS src, b.vec_id AS dst,
                   {round4(_DUCK_DOT + " / (a.nrm * b.nrm)")} AS sim
            FROM n a JOIN n b ON a.vec_id <> b.vec_id
        ),
        ranked AS (
            SELECT src, dst, sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY src ORDER BY sim DESC, dst
                   ) AS rn
            FROM pairs
        )
        SELECT src, dst, sim, CAST(rn AS INT) AS rn
        FROM ranked WHERE rn <= {_KNN_K}
        ORDER BY src, rn
    """,
    tags=("llm", "similarity", "knn", "self-join"),
)
def knn_self_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN SELF-join: top-k cosine neighbors for EVERY corpus
    vector (the building block of kNN-graph construction — embedding
    clustering, graph-based semantic dedup, diversity sampling) — where
    ann_brute_topk ranks a fixed query set, this ranks all N.

    Plan (``dedup.block_pairs``, the planner of
    ``embedding_cosine_pairs``): vectors pack into row-normalized
    float64 blocks (one applyInPandas per block, corpus becomes B fat
    rows); an upper-triangle block-pair index joins them; each pair
    runs ONE GEMM and emits per-row partial top-(k+slack) candidates
    in BOTH directions (argpartition, no full sort); the global per-src
    window then ranks ~B*(k+slack) candidates per vector instead of N. The
    slack mirrors ann_brute_topk's margin: the final order is on
    ROUNDED sim with id tie-break, so the raw-precision partial cut
    must keep any candidate that could tie at the boundary after
    rounding. Exact all-pairs is inherently O(N²/block) GEMM work —
    for corpora past ~1M vectors build the kNN graph with the
    sub-quadratic LSH route (``dedup_embedding_ann``) instead; this
    operator inherits ``embedding_cosine_pairs``'s routing rationale
    (``dedup.py``)."""
    import math

    em = _emb(spark, sf_dir).select("vec_id", "embedding")
    n = em.count()
    n_blocks = max(1, math.ceil(n / 2048))
    keep = _KNN_K + _KNN_SLACK

    def topk_rows(
        ids_src: "np.ndarray", ids_dst: "np.ndarray", sims: "np.ndarray"
    ):
        import numpy as np
        import pandas as pd

        # mask self-pairs (same vec_id can only meet in the same block)
        self_mask = ids_src[:, None] == ids_dst[None, :]
        sims = np.where(self_mask, -np.inf, sims)
        k = min(keep, sims.shape[1])
        idx = np.argpartition(-sims, k - 1, axis=1)[:, :k]
        rows = np.repeat(ids_src, k)
        cols = ids_dst[idx.ravel()]
        vals = np.take_along_axis(sims, idx, axis=1).ravel()
        good = np.isfinite(vals)
        return pd.DataFrame(
            {"src": rows[good], "dst": cols[good], "sim_raw": vals[good]}
        )

    def both_ways(ids_a, ids_b, sims, same_block):
        yield topk_rows(ids_a, ids_b, sims)
        if not same_block:
            yield topk_rows(ids_b, ids_a, sims.T)

    cands = block_pairs(
        spark,
        em.withColumn("blk", block_key(n_blocks)),
        n_blocks,
        both_ways,
        "src long, dst long, sim_raw double",
    )
    return rank_topk(cands, _KNN_K, by="src", item="dst")


# --------------------------------------------------------------- PQ ANN
_PQ_M = 8  # subquantizers: dim/_PQ_M-float subvectors -> 1 byte each
_PQ_ITERS = 6  # per-subspace k-means rounds (12 -> 6 measured
# recall-neutral at sf0.01/sf0.1; the fit is the op's driver-side
# serial section, ~0.12s per subspace-round at 4096x256)
_PQ_TRAIN = 4096  # bounded driver-side training sample
_PQ_RERANK = 8  # exact re-rank width, x _ANN_K candidates per query


def pq_m_for(dim: int, want: int = _PQ_M) -> int:
    """Largest m in {want, 4, 2, 1} dividing dim — every dimension
    participates in quantization (ADVICE r10)."""
    return next(mm for mm in (want, 4, 2, 1) if dim % mm == 0)


def fit_pq_codebooks(X, m: int, k: int, iters: int, seed: int = 7):
    """Per-subspace k-means codebooks on a bounded driver-side sample
    (rows of ``X`` are already unit-normalized): returns an
    (m, k, dim//m) array. Fully vectorized Lloyd rounds — the
    256-centroid Python loop was measured at 1.9 s and removed in r10.
    Shared by ``ann_pq_topk`` (raw vectors) and the IVF-PQ index
    (cell residuals, vector_index.py)."""
    import numpy as np

    dim = X.shape[1]
    dsub = dim // m
    k = max(1, min(k, len(X)))  # a 10-vector sample fits 10 codes, not 16
    rng = np.random.RandomState(seed)
    books = np.empty((m, k, dsub), dtype=np.float64)
    for j in range(m):
        sub = np.ascontiguousarray(X[:, j * dsub : (j + 1) * dsub])
        C = sub[rng.choice(len(sub), k, replace=False)]
        for _ in range(iters):
            assign = pq_assign(sub, C)
            sums = np.zeros((k, dsub))
            np.add.at(sums, assign, sub)
            counts = np.bincount(assign, minlength=k)
            nz = counts > 0
            C[nz] = sums[nz] / counts[nz, None]
        books[j] = C
    return books


def pq_assign(sub, book):
    """Nearest code of every row of ``sub`` in one subspace codebook
    ``book`` (k x dsub): ||x-c||^2 up to the x^2 constant, i.e.
    argmin(c^2 - 2xc). The one assignment expression of the codebook
    fit, the flat PQ encode and the IVF-PQ residual encode."""
    return ((book**2).sum(1)[None, :] - 2.0 * (sub @ book.T)).argmin(1)


def pq_lut(books, q):
    """ADC lookup table of one unit query (or query residual) ``q``
    against (m, k, dsub) ``books``: lut[j, code] = ||q_j - books[j,
    code]||^2 for each subspace j, so a code row's distance estimate is
    m table gathers + a sum."""
    import numpy as np

    m, _k, dsub = books.shape
    return np.stack(
        [
            ((books[j] - q[j * dsub : (j + 1) * dsub][None, :]) ** 2).sum(1)
            for j in range(m)
        ]
    )


def unit_queries(queries: DataFrame):
    """(ids, unit-normalized float64 matrix) of a small query set,
    collected driver-side for the ADC lookup tables."""
    import numpy as np

    qrows = queries.select("vec_id", "embedding").collect()
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    q_mat = np.array([r[1] for r in qrows], dtype=np.float64)
    # axis=-1: an empty query set is a (0,) array, not (0, dim)
    q_mat /= np.clip(np.linalg.norm(q_mat, axis=-1, keepdims=True), 1e-12, None)
    return q_ids, q_mat


def pq_rerank(
    spark: SparkSession,
    cand: DataFrame,
    em: DataFrame,
    q_ids,
    q_mat,
    shortlist: int,
    k: int,
) -> DataFrame:
    """ADC shortlist + EXACT re-rank: keep each query's ``shortlist``
    lowest distance estimates of ``cand`` (query_id, vec_id, est;
    vec_id tie-break), fetch ONLY those vectors from ``em`` (a
    semi-join-sized read), score true cosine against the broadcast
    query matrix and rank top-``k`` — reported sims are exact and
    deterministic. Shared by ``ann_pq_topk`` and ``ivfpq_search``."""
    wq = Window.partitionBy("query_id").orderBy(F.asc("est"), F.asc("vec_id"))
    short = (
        cand.withColumn("_r0", F.row_number().over(wq))
        .where(F.col("_r0") <= shortlist)
        .select("query_id", "vec_id")
    )
    qdf = spark.createDataFrame(
        [(int(q_ids[i]), [float(x) for x in q_mat[i]]) for i in range(len(q_ids))],
        "query_id long, qemb array<double>",
    )
    rer = (
        short.join(em.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(qdf), "query_id")
        .withColumn(
            "_sim_raw",
            cosine_sim(F.col("embedding").cast("array<double>"), F.col("qemb")),
        )
    )
    return rank_topk(rer, k, raw="_sim_raw")


@register("ann_pq_topk", oracle=None, tags=("llm", "similarity", "ann", "pq"))
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate K-NN via PRODUCT QUANTIZATION (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011) — the
    memory-side scale route the LSH/IVF paths don't cover: vectors
    compress to m=8 one-byte codes (64x smaller than 64 float64s), so a
    100 TB embedding corpus scans as ~1.5 TB of codes.

    Plan: (1) codebooks train driver-side on a BOUNDED seeded sample
    (m per-subspace k-means fits — same bounded-scalar pattern as the
    IVF centroid fit, vector_index.py); (2) ONE Arrow pass encodes the
    corpus to (vec_id, m uint8 codes) — at scale this is the persisted
    compressed index (the lakehouse-landed route is ann_ivfpq_topk;
    here the single ADC consumer streams the codes directly, r14: the
    old eager localCheckpoint was a full extra materialization pass
    for a pin nothing re-read); (3) the query
    scan touches ONLY the codes: per query an (m x k) asymmetric-
    distance lookup table broadcasts in the closure and each batch
    scores as m table gathers + a sum (no floats from the corpus are
    read at all); (4) the per-query shortlist (8x K) re-ranks EXACTLY —
    a semi-join back to the embeddings table fetches just the shortlist
    vectors and the final top-K ranks on ROUNDED true cosine with
    vec_id tie-break, so reported sims are exact and deterministic.
    Quantizing L2 on unit-normalized vectors ranks cosine (||a-b||^2 =
    2 - 2cos). Recall floor + determinism pinned in
    ``test_llm_ops.py::test_ann_pq_recall_vs_brute``; rows-only by
    design (seeded codebooks have no SQL twin)."""
    import numpy as np

    em = _emb(spark, sf_dir)
    n = em.count()
    stride = max(1, n // _PQ_TRAIN)
    sample = (
        em.where(F.col("vec_id") % stride == 0)
        .select("embedding")
        .limit(_PQ_TRAIN)
        .collect()
    )
    X = np.array([r[0] for r in sample], dtype=np.float64)
    X /= np.clip(np.linalg.norm(X, axis=1, keepdims=True), 1e-12, None)
    dim = X.shape[1]
    m = pq_m_for(dim)
    dsub = dim // m
    k = int(min(256, max(16, len(X) // 8)))
    books = fit_pq_codebooks(X, m, k, _PQ_ITERS, seed=7)
    code_cols = ", ".join(f"c{j} int" for j in range(m))

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            mat /= np.clip(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12, None
            )
            out = pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy()})
            for j in range(m):
                sub = mat[:, j * dsub : (j + 1) * dsub]
                out[f"c{j}"] = pq_assign(sub, books[j]).astype(np.int32)
            yield out

    # The codes relation has exactly ONE consumer (the ADC scan below), so
    # it streams straight into it — encode still runs once, fused into the
    # same stage. The r10-r13 eager localCheckpoint here materialized all
    # codes as a separate job before the scan could start: a full extra
    # pass + executor memory for a pin nothing re-reads (guide §5:
    # persist only what is REUSED). ann_ivfpq_topk is the route where the
    # codes ARE a persisted artifact — there they land in a lakehouse
    # table; this entry is the recompute-per-query flat-PQ twin.
    codes = em.select("vec_id", "embedding").mapInPandas(
        encode, f"vec_id long, {code_cols}"
    )

    q_ids, q_mat = unit_queries(em.where(F.col("vec_id") < _N_QUERIES))
    # ADC tables: luts[qi, j, code] = ||q_sub - c||^2 for that subspace
    luts = np.array([pq_lut(books, q) for q in q_mat])
    shortlist = _ANN_K * _PQ_RERANK

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        cols = np.arange(m)
        for pdf in batches:
            if pdf.empty:
                continue
            cm = np.stack(
                [pdf[f"c{j}"].to_numpy() for j in range(m)], axis=1
            )
            vec_ids = pdf["vec_id"].to_numpy()
            frames = []
            for qi, qid in enumerate(q_ids):
                est = luts[qi][cols[None, :], cm].sum(1)
                mask = vec_ids != qid
                e, v = est[mask], vec_ids[mask]
                if len(e) > shortlist:  # per-batch pre-truncation
                    idx = np.argpartition(e, shortlist)[:shortlist]
                    e, v = e[idx], v[idx]
                frames.append(
                    pd.DataFrame({"query_id": qid, "vec_id": v, "est": e})
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    cand = codes.mapInPandas(adc, "query_id long, vec_id long, est double")
    return pq_rerank(spark, cand, em, q_ids, q_mat, shortlist, _ANN_K)
