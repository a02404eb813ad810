"""Quality validation for approximate / non-SQL-expressible operators:
recall of LSH paths against their exact counterparts, HLL tolerance,
multimodal stub determinism. These are the pytest halves of the rows-only
driver checks."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from crest_spark.registry import load_all

SPECS = load_all()


def _pairs(df, a="doc_a", b="doc_b"):
    return {(r[a], r[b]) for r in df.collect()}


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    """MinHash-LSH candidate pairs must recover (nearly) all exact-Jaccard
    pairs: with 16 bands x 4 rows, P(candidate) at j=0.5 is ~0.93 and
    >0.999 at j=0.7 — and LSH output is verified with exact Jaccard, so
    precision is 1.0 by construction."""
    exact = _pairs(SPECS["dedup_ngram_jaccard"].fn(spark, sf_dir))
    lsh = _pairs(SPECS["dedup_minhash_lsh"].fn(spark, sf_dir))
    assert lsh <= exact  # precision 1.0: every emitted pair is verified
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.8, f"recall {recall} over {len(exact)} exact pairs"


def test_ann_lsh_recall_vs_brute(spark, sf_dir):
    """Hyperplane-LSH ANN: each query's top-5 must overlap the exact
    top-5 (random-hyperplane recall on near-random vectors is imperfect
    by design; the floor asserts it beats chance by a wide margin)."""
    brute = SPECS["ann_brute_topk"].fn(spark, sf_dir).collect()
    approx = SPECS["ann_lsh_topk"].fn(spark, sf_dir).collect()
    b = {(r["query_id"], r["vec_id"]) for r in brute}
    a = {(r["query_id"], r["vec_id"]) for r in approx}
    assert len(a & b) / len(b) >= 0.2  # chance level would be ~5/500
    # every query produced a full result set
    by_q = {}
    for r in approx:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}


def test_simhash_finds_exact_duplicates(spark, sf_dir, tmp_path):
    """Hamming distance of identical texts is 0 -> each injected exact
    dup must land in the same duplicate COMPONENT as its original.
    (Component-level, not pair-level: hot buckets are chain-linked by
    the degenerate-bucket guard, so a dup pair may be connected through
    hamming-0 chain edges rather than enumerated directly.)"""
    src = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(50)
        .select("doc_id", "text", "lang", "source", "n_chars")
    )
    dup = src.withColumn("doc_id", F.col("doc_id") + 100000)
    staged = str(tmp_path / "docs_with_dups")
    src.union(dup).write.parquet(staged)

    import crest_spark.operators.dedup as dd
    from crest_spark.operators.dedup import connected_components

    orig = dd._docs
    try:
        dd._docs = lambda s, _sf: s.read.parquet(staged).repartition(4, "doc_id")
        pairs_df = SPECS["dedup_simhash"].fn(spark, sf_dir)
        labels = {
            r.v: r.label
            for r in connected_components(
                pairs_df.select("doc_a", "doc_b")
            ).collect()
        }
    finally:
        dd._docs = orig
    for i in range(50):
        assert labels.get(i) is not None
        assert labels.get(i) == labels.get(i + 100000)


def test_approx_distinct_tolerance(spark, sf_dir):
    """HLL++ estimates within ±5% of exact (q04b's driver check is
    rows-only; the numeric bound lives here)."""
    approx = SPECS["q04b_approx_distinct"].fn(spark, sf_dir).first()
    exact = SPECS["q04_distinct_agg"].fn(spark, sf_dir).first()
    assert abs(approx["approx_parts"] - exact["n_parts"]) / exact["n_parts"] < 0.05
    assert abs(approx["approx_supps"] - exact["n_supps"]) / exact["n_supps"] < 0.05


def test_multimodal_features_deterministic(spark, sf_dir):
    """The stubbed decode is sha256-derived: two runs must agree exactly,
    and dims/byte-counts must match the source."""
    a = SPECS["multimodal_features"].fn(spark, sf_dir).collect()
    b = SPECS["multimodal_features"].fn(spark, sf_dir).collect()
    assert a == b
    assert all(r["feature_dim"] == 8 for r in a)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_chars = {r["doc_id"]: r["n_chars"] for r in docs.collect()}
    for r in a:
        assert r["n_bytes"] == n_chars[r["doc_id"]]


def test_frame_sampling_shape(spark, sf_dir):
    """Video frame-sampling plumbing: 4 rows per doc, distinct digests."""
    from crest_spark.operators.multimodal import sample_frames

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(10)
    payload = d.select("doc_id", F.col("text").cast("binary").alias("payload"))
    frames = sample_frames(payload).collect()
    assert len(frames) == 40
    per_doc = {}
    for r in frames:
        per_doc.setdefault(r["doc_id"], set()).add(r["frame_md5"])
    assert all(len(v) == 4 for v in per_doc.values())


def test_ann_ivf_recall_vs_brute(spark, sf_dir):
    """IVF with nprobe=4/16 cells: recall floor over the exact top-5."""
    brute = SPECS["ann_brute_topk"].fn(spark, sf_dir).collect()
    ivf = SPECS["ann_ivf_topk"].fn(spark, sf_dir).collect()
    b = {(r["query_id"], r["vec_id"]) for r in brute}
    a = {(r["query_id"], r["vec_id"]) for r in ivf}
    assert len(a & b) / len(b) >= 0.3
    assert {r["query_id"] for r in ivf} == {0, 1, 2, 3, 4}


def test_weighted_simhash_exact_dups_and_degeneracy(spark, sf_dir, tmp_path):
    """IDF-weighted simhash: injected exact duplicates are found
    (hamming 0), and the candidate set stays orders of magnitude below
    the plain simhash's degenerate output on this skewed-vocab corpus."""
    src = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(50)
        .select("doc_id", "text", "lang", "source", "n_chars")
    )
    dup = src.withColumn("doc_id", F.col("doc_id") + 100000)
    staged = str(tmp_path / "docs_with_dups_w")
    src.union(dup).write.parquet(staged)

    import crest_spark.operators.dedup as dd

    orig = dd._docs
    try:
        dd._docs = lambda s, _sf: s.read.parquet(staged).repartition(4, "doc_id")
        pairs = _pairs(SPECS["dedup_simhash_weighted"].fn(spark, sf_dir))
    finally:
        dd._docs = orig
    for i in range(50):
        assert (i, i + 100000) in pairs


def test_weighted_simhash_recall_vs_exact(spark, sf_dir):
    """Weighted simhash candidates recover most exact-Jaccard pairs while
    the unweighted variant's pair count shows the vocabulary-skew
    degeneracy the weighting exists to fix."""
    exact = _pairs(SPECS["dedup_ngram_jaccard"].fn(spark, sf_dir))
    wpairs = _pairs(SPECS["dedup_simhash_weighted"].fn(spark, sf_dir))
    if exact:
        # T=12 accept threshold: measured 0.92-0.94 recall at sf0.001-0.1
        # with precision >= 0.996 (background Hamming floor is ~16)
        recall = len(wpairs & exact) / len(exact)
        assert recall >= 0.85, f"recall {recall} over {len(exact)} exact pairs"
        precision = len(wpairs & exact) / len(wpairs)
        assert precision >= 0.95, f"precision {precision} over {len(wpairs)} pairs"
    plain = SPECS["dedup_simhash"].fn(spark, sf_dir).count()
    assert len(wpairs) < plain


def test_lsh_degenerate_bucket_chain_linked(spark):
    """A hot LSH bucket (template spam: B docs with identical band
    signatures) must produce O(B) chain candidates, not B^2/2
    all-pairs — while still connecting every member into one path so
    downstream clustering folds them into one duplicate component."""
    from crest_spark.operators.dedup import LSH_BANDS, lsh_candidate_pairs

    big, small = 200, 3
    rows = [(d, b, 111) for d in range(big) for b in range(LSH_BANDS)]
    rows += [(1000 + d, b, 222) for d in range(small) for b in range(LSH_BANDS)]
    bands = spark.createDataFrame(rows, "doc_id long, band int, sig long")

    pairs = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(bands).collect()}
    big_pairs = {p for p in pairs if p[0] < 1000}
    small_pairs = pairs - big_pairs
    # hot bucket: exactly B-1 chain edges linking neighbors in doc order
    assert big_pairs == {(d, d + 1) for d in range(big - 1)}
    # normal bucket: full all-pairs enumeration
    assert small_pairs == {(1000, 1001), (1000, 1002), (1001, 1002)}


def test_lsh_chain_order_col_groups_identical_values(spark):
    """With order_col, hot-bucket chains sort by that column so equal
    values (e.g. identical simhashes) become chain-adjacent — their
    edges then survive an exact-distance verify."""
    from crest_spark.operators.dedup import lsh_candidate_pairs

    # one hot bucket of 100 docs: doc d has "simhash" d % 2 (two value
    # groups interleaved by doc_id)
    rows = [(d, 0, 7, d % 2) for d in range(100)]
    bands = spark.createDataFrame(
        rows, "doc_id long, band int, sig long, simhash long"
    )
    pairs = [
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(
            bands, max_bucket=10, order_col="simhash"
        ).collect()
    ]
    assert len(pairs) == 99  # O(B) chain
    # all even docs chain together first, then odds: exactly one
    # cross-group edge, every other edge joins same-parity neighbors
    cross = [p for p in pairs if p[0] % 2 != p[1] % 2]
    assert len(cross) == 1


def test_embedding_cosine_multiblock_matches_single(spark, sf_dir):
    """The distributed block x block GEMM must be exact: forcing many
    tiny blocks (64 rows -> ~8 blocks, 36 block pairs) yields the same
    pair set and similarities as one block (= a single full GEMM)."""
    from crest_spark.operators.dedup import _COS_T, embedding_cosine_pairs

    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    one = SPECS["dedup_embedding_cosine"].fn(spark, sf_dir).collect()
    many = embedding_cosine_pairs(
        spark, em, _COS_T, block_rows=64, single_block_rows=0
    ).collect()
    assert [tuple(r) for r in one] == [tuple(r) for r in many]
    assert len(one) > 0


def test_embedding_cosine_no_driver_collect(spark, sf_dir):
    """The embedding dedup plan must be the distributed shape: block
    packing (FlatMapGroupsInPandas) + block-pair GEMM (two pandas
    stages), not a driver-side corpus broadcast."""
    df = SPECS["dedup_embedding_cosine"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan  # applyInPandas block packing


def test_approx_percentiles_within_tolerance(spark, sf_dir):
    """approx_percentile (the constant-memory 100 TB path) must sit
    within 1% relative error of the exact interpolated percentiles."""
    exact = {r.l_returnflag: r for r in SPECS["stats_percentiles"].fn(spark, sf_dir).collect()}
    approx = {r.l_returnflag: r for r in SPECS["stats_percentiles_approx"].fn(spark, sf_dir).collect()}
    assert exact.keys() == approx.keys()
    for k in exact:
        for col in ("p25", "p50", "p75"):
            e, a = exact[k][col], approx[k][col]
            assert abs(a - e) / e < 0.01, f"{k}.{col}: approx {a} vs exact {e}"


def test_approx_percentiles_stable_across_partitionings(spark, sf_dir):
    """The driver's rows-only gate for stats_percentiles_approx records
    the row count, and the pytest gate bounds the value error — so pin
    both invariances explicitly under adversarial partitionings: the
    group count never moves, and every partitioning's estimate stays
    within the sketch's accuracy bound of the exact answer (VERDICT r4
    item #9: the rows-only check must not be able to flake)."""
    from crest_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r.l_returnflag: r
        for r in SPECS["stats_percentiles"].fn(spark, sf_dir).collect()
    }

    def run(df):
        out = (
            df.groupBy("l_returnflag")
            .agg(
                F.expr(
                    "approx_percentile(l_extendedprice,"
                    " array(0.25, 0.5, 0.75), 10000)"
                ).alias("q")
            )
            .select(
                "l_returnflag",
                F.col("q")[0].alias("p25"),
                F.col("q")[1].alias("p50"),
                F.col("q")[2].alias("p75"),
            )
        )
        return {r.l_returnflag: r for r in out.collect()}

    for variant in (
        li.repartition(1),
        li.repartition(37),
        li.repartition(8, "l_partkey"),
    ):
        got = run(variant)
        assert got.keys() == exact.keys()  # row count can never flake
        for k in got:
            for col in ("p25", "p50", "p75"):
                e, a = exact[k][col], got[k][col]
                assert abs(a - e) / e < 0.01, f"{k}.{col}: {a} vs {e}"


def test_connected_components_chain_and_isolated(spark):
    """Min-label propagation on a diameter-9 path (forces many rounds)
    plus a separate triangle: every vertex must land on its component's
    min id, and the fixpoint must actually be reached (not the cap)."""
    from crest_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(9)]  # 0-1-...-9
    tri = [(100, 101), (101, 102), (100, 102)]
    edges = spark.createDataFrame(chain + tri, "a long, b long")
    labels = {r.v: r.label for r in connected_components(edges).collect()}
    assert {v: l for v, l in labels.items() if v < 100} == {i: 0 for i in range(10)}
    assert {v: l for v, l in labels.items() if v >= 100} == {
        100: 100, 101: 100, 102: 100
    }


def test_connected_components_near_bound_labels(spark):
    """Vertex ids near 2^63: the decimal(38,0) label-sum convergence
    check (load-bearing for correctness — a silent NULL would falsely
    converge) must stay exact at the BIGINT domain edge (r15, VERDICT
    r14 #7)."""
    from crest_spark.operators.dedup import connected_components

    big = (1 << 62) + 12345
    edges = spark.createDataFrame(
        [(big, big + 1), (big + 2, big + 3)], "a long, b long"
    )
    labels = {r.v: r.label for r in connected_components(edges).collect()}
    assert labels == {
        big: big, big + 1: big, big + 2: big + 2, big + 3: big + 2
    }


def test_dedup_embedding_ann_precision_and_recall(spark, sf_dir):
    """The sub-quadratic LSH-blocked semantic dedup: precision is exact
    (every emitted pair re-scored with true cosine => subset of the exact
    pair set), recall is the LSH trade and must stay well above chance
    even on this near-random synthetic corpus (threshold sits at ~p99.9
    of the pair distribution; measured ~0.78 at sf0.01)."""
    exact = {
        (r.vec_a, r.vec_b)
        for r in SPECS["dedup_embedding_cosine"].fn(spark, sf_dir).collect()
    }
    ann = {
        (r.vec_a, r.vec_b)
        for r in SPECS["dedup_embedding_ann"].fn(spark, sf_dir).collect()
    }
    assert exact
    assert ann <= exact  # precision 1.0 by construction
    assert len(ann & exact) / len(exact) >= 0.5


def test_embedding_cosine_single_block_fast_path(spark, sf_dir):
    """Small corpora must take the no-pair-join plan: no range-join or
    block-pair shuffle machinery, exactly one FlatMapGroupsInPandas pack
    + one gemm stage, and identical results to the forced multi-block
    plan (exactness of both proven against each other)."""
    from crest_spark.operators.dedup import _COS_T, embedding_cosine_pairs

    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    fast = embedding_cosine_pairs(spark, em, _COS_T)  # n << 8192 -> 1 block
    plan = fast._jdf.queryExecution().optimizedPlan().toString()
    assert "Range (" not in plan  # no spark.range pair index in the plan
    assert [tuple(r) for r in fast.collect()] == [
        tuple(r)
        for r in embedding_cosine_pairs(
            spark, em, _COS_T, block_rows=64, single_block_rows=0
        ).collect()
    ]


def test_ann_lsh_high_recall_on_clustered_embeddings(spark, sf_dir):
    """On CLUSTERED embeddings (what real model embeddings look like —
    near-dup neighbors at cosine ~0.95, not the near-random synthetic
    corpus), hyperplane LSH must achieve high recall: p(bit agree) =
    1 - theta/pi ~= 0.9 per plane, so 4 bands of adaptive width recover
    nearly every true neighbor. The lax 0.2 floor on the random corpus
    asserts little; this is the gate that matters."""
    import numpy as np

    import crest_spark.operators.similarity as sim

    rng = np.random.RandomState(11)
    n_clusters, per_cluster, dim = 40, 25, 64
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for ci in range(n_clusters):
        for _ in range(per_cluster):
            v = centers[ci] + 0.05 * rng.standard_normal(dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    # queries (vec_id 0..4) land in 5 distinct clusters: cluster ci owns
    # ids [ci*25, ci*25+25), so ids 0..4 are all cluster 0 — reassign by
    # shuffling ids deterministically so queries spread across clusters
    perm = rng.permutation(len(rows))
    rows = [(int(perm[i]), emb) for i, (_, emb) in enumerate(rows)]
    clustered = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    orig = sim._emb
    try:
        sim._emb = lambda s, _sf: clustered
        brute = SPECS["ann_brute_topk"].fn(spark, sf_dir).collect()
        approx = SPECS["ann_lsh_topk"].fn(spark, sf_dir).collect()
    finally:
        sim._emb = orig
    b = {(r["query_id"], r["vec_id"]) for r in brute}
    a = {(r["query_id"], r["vec_id"]) for r in approx}
    recall = len(a & b) / len(b)
    assert recall >= 0.8, f"clustered-corpus recall {recall}"


def test_heavy_hitters_superset_guarantee_tiny_k(spark, sf_dir):
    """The Misra-Gries candidate pass must remain a SUPERSET of the true
    phi-heavy hitters even with far fewer counters than vocabulary —
    exactness comes from the recount, the sketch only has to never drop
    a true heavy hitter. Force k down to the theoretical floor 1/phi and
    compare against the plain full-groupBy answer."""
    import crest_spark.operators.text as tx

    exact_rows = SPECS["text_heavy_hitters"].fn(spark, sf_dir).collect()
    orig_k = tx._HH_K
    try:
        tx._HH_K = int(1 / tx._HH_PHI) + 1  # 501 counters
        small_k = SPECS["text_heavy_hitters"].fn(spark, sf_dir).collect()
    finally:
        tx._HH_K = orig_k
    assert [tuple(r) for r in small_k] == [tuple(r) for r in exact_rows]
    assert exact_rows  # non-trivial: the corpus has phi-heavy words


def test_multimodal_resize_deterministic_fixed_size(spark, sf_dir):
    """Resize plumbing: every thumbnail is exactly w*h bytes (the
    constant-size contract that makes downstream shuffles bounded),
    metadata matches the source, and two runs agree exactly."""
    from crest_spark.operators.multimodal import _RESIZE_H, _RESIZE_W

    a = SPECS["multimodal_resize"].fn(spark, sf_dir).collect()
    b = SPECS["multimodal_resize"].fn(spark, sf_dir).collect()
    assert a == b
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_chars = {r["doc_id"]: r["n_chars"] for r in docs.collect()}
    assert len(a) == len(n_chars)
    for r in a:
        assert r["thumb_bytes"] == _RESIZE_W * _RESIZE_H
        assert (r["thumb_w"], r["thumb_h"]) == (_RESIZE_W, _RESIZE_H)
        assert r["src_bytes"] == n_chars[r["doc_id"]]


def test_audio_chunks_cover_payload_exactly(spark, sf_dir):
    """Chunking invariants: per-doc chunk sizes sum to the payload size,
    every chunk except the last is exactly the window, indexes/offsets
    are dense, and two runs agree exactly."""
    a = SPECS["multimodal_audio_chunks"].fn(spark, sf_dir).collect()
    assert a == SPECS["multimodal_audio_chunks"].fn(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_chars = {r["doc_id"]: r["n_chars"] for r in docs.collect()}
    per_doc: dict = {}
    for r in a:
        per_doc.setdefault(r["doc_id"], []).append(r)
    assert set(per_doc) == set(n_chars)
    for doc_id, rows in per_doc.items():
        rows.sort(key=lambda r: r["chunk_idx"])
        assert [r["chunk_idx"] for r in rows] == list(range(len(rows)))
        assert sum(r["n_bytes"] for r in rows) == n_chars[doc_id]
        assert all(r["n_bytes"] == 64 for r in rows[:-1])
        assert all(r["start_s"] == float(i) for i, r in enumerate(rows))


def test_short_docs_gram_guard(spark, sf_dir):
    """sequence(1, k) DESCENDS for k < 1, so docs shorter than the gram
    width must contribute zero grams — not a runtime slice() error
    (decontaminate) or null grams diverging from the oracle
    (text_repetition). Fixture corpora have >=10 tokens per doc, so this
    only reproduces on injected short docs."""
    import crest_spark.operators.curation as cu
    import crest_spark.operators.text as tx

    long_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, long_text), (11, "alpha beta"), (12, "solo"), (13, long_text)],
        "doc_id bigint, text string",
    )
    orig_cu, orig_tx = cu._docs, tx._docs
    try:
        cu._docs = lambda s, _sf, **kw: df
        tx._docs = lambda s, _sf, **kw: df
        flagged = [
            r["doc_id"]
            for r in SPECS["curation_decontaminate"].fn(spark, sf_dir).collect()
        ]
        assert flagged == [13]  # 8-gram overlap with the bench doc; short
        # docs (2 and 1 tokens) produce no grams and no crash
        rep = {
            r["doc_id"]: r
            for r in SPECS["text_repetition"].fn(spark, sf_dir).collect()
        }
        assert set(rep) == {1, 11, 13}  # 1-token doc has no 2-grams
        assert rep[11]["n_grams"] == 1
        assert rep[11]["top_gram_ratio"] == 1.0
        assert rep[11]["dup_gram_fraction"] == 0.0
    finally:
        cu._docs = orig_cu
        tx._docs = orig_tx


def test_embedding_cosine_routes_big_corpora_to_ann(spark, sf_dir):
    """The exact all-pairs path must REFUSE corpora past the ANN routing
    threshold (VERDICT r3 #8): quadratic block pairs at cluster scale
    should be an explicit caller decision, not a default."""
    import pytest

    from crest_spark.operators.dedup import _COS_T, embedding_cosine_pairs

    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="dedup_embedding_ann"):
        embedding_cosine_pairs(spark, em, _COS_T, ann_route_rows=10)
    # explicit override accepts the quadratic cost
    assert (
        embedding_cosine_pairs(
            spark, em, _COS_T, ann_route_rows=10**9
        ).count()
        >= 0
    )


def test_profile_columns_generic_and_approx(spark, sf_dir):
    """profile_columns works on arbitrary DataFrames; approx_distinct
    swaps exact NDV for HLL within tolerance."""
    from pyspark.sql import functions as F

    from crest_spark.operators.stats import profile_columns

    df = spark.range(10_000).select(
        F.col("id").cast("double").alias("x"),
        F.concat(F.lit("g"), (F.col("id") % 37).cast("string")).alias("g"),
    )
    exact = {
        r["col"]: r for r in profile_columns(df, ["x"], ["g"]).collect()
    }
    assert exact["x"]["n_rows"] == 10_000
    assert exact["x"]["n_null"] == 0
    assert exact["x"]["n_distinct"] == 10_000
    assert exact["g"]["n_distinct"] == 37
    assert exact["g"]["min_str"] == "g0"
    approx = {
        r["col"]: r
        for r in profile_columns(df, ["x"], ["g"], approx_distinct=True).collect()
    }
    assert abs(approx["x"]["n_distinct"] - 10_000) / 10_000 < 0.1
    assert abs(approx["g"]["n_distinct"] - 37) <= 4


def test_substring_spans_short_docs_and_span_shape(spark, tmp_path):
    """Docs shorter than the window emit nothing (the sequence()-descends
    guard), duplicated runs merge into one maximal span, and a doc with
    no duplicated window is absent."""
    shared = " ".join(f"w{i}" for i in range(20))  # 20 tokens, > window
    rows = [
        (1, shared + " uniqA uniqB uniqC"),
        (2, "prefixX prefixY " + shared),
        (3, "totally different tokens here only once ever seen q r s t u v"),
        (4, "tiny doc"),  # < window tokens: must not crash, must not appear
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    staged = str(tmp_path / "span_docs")
    df.write.parquet(staged)

    import crest_spark.operators.dedup as dd

    orig = dd._docs
    try:
        dd._docs = lambda s, _sf: s.read.parquet(staged).repartition(2, "doc_id")
        out = SPECS["dedup_substring_spans"].fn(spark, "unused").collect()
    finally:
        dd._docs = orig

    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {1, 2}
    # doc 1: shared block starts at token 1; 20-token block, W=12 -> 9
    # windows, one maximal span [1, 20]
    (s1,) = by_doc[1]
    assert (s1.span_start, s1.span_end, s1.n_windows) == (1, 20, 9)
    # doc 2: same block offset by the 2-token prefix -> [3, 22]
    (s2,) = by_doc[2]
    assert (s2.span_start, s2.span_end, s2.n_windows) == (3, 22, 9)


def test_semdedup_within_cluster_contract_exact(spark, sf_dir):
    """dedup_semantic_clusters' flag is EXACTLY the within-cluster
    SemDeDup contract: is_dup(v) <=> some lower-id member of v's
    cluster has cosine > tau. Verified against brute-force cosine over
    the full corpus (500 vectors at sf0.01)."""
    import numpy as np

    from crest_spark.operators.dedup import (
        SEMDEDUP_TAU,
        dedup_semantic_clusters,
    )
    from crest_spark.sources.tables import load_table

    out = {
        r["vec_id"]: (r["cluster"], r["is_dup"])
        for r in dedup_semantic_clusters(spark, sf_dir).collect()
    }
    em = load_table(spark, sf_dir, "embeddings").collect()
    vecs = {}
    for r in em:
        v = np.array(r["embedding"], dtype=np.float64)
        vecs[r["vec_id"]] = v / max(np.linalg.norm(v), 1e-12)
    assert set(out) == set(vecs)  # every vector classified exactly once
    by_cluster: dict[int, list[int]] = {}
    for vid, (c, _) in out.items():
        by_cluster.setdefault(c, []).append(vid)
    n_dups = 0
    for c, members in by_cluster.items():
        members.sort()
        for i, vid in enumerate(members):
            expect = any(
                float(vecs[vid] @ vecs[lo]) > SEMDEDUP_TAU
                for lo in members[:i]
            )
            assert out[vid][1] == expect, (vid, c)
            n_dups += out[vid][1]
    assert n_dups > 0  # the corpus has semantic dups; the op finds them


def test_semdedup_is_deterministic(spark, sf_dir):
    from crest_spark.operators.dedup import dedup_semantic_clusters

    a = dedup_semantic_clusters(spark, sf_dir).collect()
    b = dedup_semantic_clusters(spark, sf_dir).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_containment_capped_matches_exact_on_corpus(spark, sf_dir):
    """The df-capped containment route is EXACT-after-prefilter: on the
    test corpus (where every true pair shares at least one sub-cap
    shingle) its output equals the exact twin's, scores included."""
    exact = {
        (r["doc_a"], r["doc_b"], r["containment"], r["contained_id"])
        for r in SPECS["dedup_containment"].fn(spark, sf_dir).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"], r["containment"], r["contained_id"])
        for r in SPECS["dedup_containment_capped"].fn(spark, sf_dir).collect()
    }
    assert capped <= exact  # precision 1.0: verify recomputes full sets
    assert capped == exact, (
        f"capped dropped {len(exact - capped)} of {len(exact)} pairs "
        "on a corpus whose pairs all share a rare shingle"
    )
    assert len(exact) > 0  # non-vacuous


def test_containment_capped_recall_contract_engineered_miss(
    spark, tmp_path
):
    """The documented recall contract, pinned on an engineered corpus:
    a pair whose EVERY shared shingle has df > cap (pure corpus
    boilerplate) is ceded by the capped route, while pairs sharing any
    rare shingle survive with exact scores."""
    import crest_spark.operators.dedup as dd

    boiler = " ".join(f"b{i}" for i in range(12))  # 10 shared shingles
    rows = [
        # df of every boilerplate shingle = cap + 2 > _CONTAIN_DF_CAP
        # 12 boiler + 2 unique tokens -> 12 shingles, 10 shared:
        # containment 10/12 = 0.833 >= the 0.8 threshold
        *[
            (i, boiler + f" u{i}x u{i}y")
            for i in range(dd._CONTAIN_DF_CAP + 2)
        ],
        # a rare-shingle containment pair: 100 is fully inside 101
        (100, "alpha beta gamma delta epsilon zeta"),
        (101, "alpha beta gamma delta epsilon zeta eta theta iota"),
    ]
    staged = str(tmp_path / "contain_docs")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(staged)
    orig = dd._docs
    try:
        dd._docs = lambda s, _sf: s.read.parquet(staged).repartition(
            2, "doc_id"
        )
        exact = _pairs(SPECS["dedup_containment"].fn(spark, "unused"))
        capped = _pairs(
            SPECS["dedup_containment_capped"].fn(spark, "unused")
        )
    finally:
        dd._docs = orig
    # the exact twin sees the boilerplate pairs AND the rare pair
    assert (100, 101) in exact
    boiler_pairs = {p for p in exact if p[0] < 100 and p[1] < 100}
    assert len(boiler_pairs) > 0
    # capped: rare pair kept, all-boilerplate pairs are the documented miss
    assert (100, 101) in capped
    assert capped & boiler_pairs == set()
    assert capped <= exact


def test_semdedup_hot_cluster_reclusters_no_prefix_truncation(
    spark, tmp_path, monkeypatch
):
    """Oversized-cluster recluster (VERDICT r8 #7): a corpus engineered
    to dump most vectors into ONE k-means cell is split one level (the
    same k-means on the hot cell's members), every reported cluster
    stays at or under the cap — so the pairwise stage ran FULL within
    each cluster, no lowest-id-prefix truncation — and the
    within-cluster dup contract holds exactly on the split clusters."""
    import numpy as np

    import crest_spark.operators.dedup as dd

    rng = np.random.RandomState(7)
    dim = 16
    rows = []
    # 180 vectors in a tight cone around one direction -> one hot cell
    axis = rng.randn(dim)
    axis /= np.linalg.norm(axis)
    for i in range(180):
        v = axis + 0.15 * rng.randn(dim)
        rows.append((i, [float(x) for x in v], "cone"))
    # 60 scattered vectors
    for i in range(180, 240):
        v = rng.randn(dim)
        rows.append((i, [float(x) for x in v], "scatter"))
    staged = str(tmp_path / "emb_dir")
    import os as _os

    _os.makedirs(staged, exist_ok=True)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    ).write.mode("overwrite").parquet(f"{staged}/embeddings.parquet")

    monkeypatch.setattr(dd, "SEMDEDUP_MAX_CLUSTER", 100)
    monkeypatch.setattr(dd, "_semdedup_k", lambda n: 2)  # cone -> hot cell
    out = {
        r["vec_id"]: (r["cluster"], r["is_dup"])
        for r in dd.dedup_semantic_clusters(spark, staged).collect()
    }
    assert len(out) == 240  # every vector classified exactly once
    by_cluster: dict[int, list[int]] = {}
    for vid, (c, _) in out.items():
        by_cluster.setdefault(c, []).append(vid)
    # the split happened: no reported cluster exceeds the cap, and at
    # least one composite sub-cluster id (>= k = 2 base cells) exists
    assert max(len(m) for m in by_cluster.values()) <= 100
    assert any(c >= 2 for c in by_cluster)
    # exact within-cluster contract on the SPLIT clusters — valid only
    # because no cluster was prefix-truncated
    vecs = {}
    for vid, emb, _lab in rows:
        v = np.array(emb, dtype=np.float64)
        vecs[vid] = v / max(np.linalg.norm(v), 1e-12)
    n_dups = 0
    for c, members in by_cluster.items():
        members.sort()
        for i, vid in enumerate(members):
            expect = any(
                float(vecs[vid] @ vecs[lo]) > dd.SEMDEDUP_TAU
                for lo in members[:i]
            )
            assert out[vid][1] == expect, (vid, c)
            n_dups += out[vid][1]
    assert n_dups > 0  # the cone is full of semantic dups


def test_containment_cap_is_a_real_parameter(spark, tmp_path):
    """The production knob exists as code, not prose: raising the cap
    on the engineered-boilerplate corpus recovers the all-boilerplate
    pairs the default cap cedes (the cap-parametric recall contract)."""
    import crest_spark.operators.dedup as dd

    boiler = " ".join(f"b{i}" for i in range(12))
    rows = [
        *[
            (i, boiler + f" u{i}x u{i}y")
            for i in range(dd._CONTAIN_DF_CAP + 2)
        ],
        (100, "alpha beta gamma delta epsilon zeta"),
        (101, "alpha beta gamma delta epsilon zeta eta theta iota"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(
        2, "doc_id"
    )
    low = _pairs(dd.containment_capped_pairs(docs, cap=dd._CONTAIN_DF_CAP))
    high = _pairs(dd.containment_capped_pairs(docs, cap=1000))
    boiler_ids = set(range(dd._CONTAIN_DF_CAP + 2))
    assert not {p for p in low if set(p) <= boiler_ids}  # default: ceded
    assert {p for p in high if set(p) <= boiler_ids}  # raised cap: found
    assert (100, 101) in low and (100, 101) in high
    assert low <= high  # raising the cap only ADDS pairs


def test_mersenne_fold_bit_identity():
    """VERDICT r9 next-round #4: the in-place 2^31-1 fast-reduction
    table must equal the naive ``(h*a + b) % M31`` ELEMENT-WISE — the
    recall-floor test would catch quality drift but not a silent hash
    divergence. Random uint64 draws across the valid domain plus the
    edge values (0, M31-1) for h, a, and b; the product edge h=a=M31-1,
    b=M31-1 exercises the maximal affine value just under 2^62."""
    import numpy as np

    from crest_spark.operators.dedup import MERSENNE, mersenne_affine_table

    rng = np.random.RandomState(7)
    M = np.uint64(MERSENNE)
    edges = np.array([0, 1, MERSENNE - 1], dtype=np.uint64)
    h = np.concatenate(
        [edges, rng.randint(0, MERSENNE, size=4096).astype(np.uint64)]
    )
    a = np.concatenate(
        [edges, rng.randint(1, MERSENNE, size=61).astype(np.uint64)]
    )
    b = np.concatenate(
        [edges[::-1], rng.randint(0, MERSENNE, size=61).astype(np.uint64)]
    )
    got = mersenne_affine_table(h, a, b)
    # reference: exact object-int arithmetic (no dtype overflow at all)
    ref = (
        h.astype(object)[:, None] * a.astype(object)[None, :]
        + b.astype(object)[None, :]
    ) % MERSENNE
    assert (got.astype(object) == ref).all()
    # spot the documented worst case explicitly: (M-1)*(M-1)+(M-1) < 2^62
    worst = mersenne_affine_table(
        np.array([MERSENNE - 1], dtype=np.uint64),
        np.array([MERSENNE - 1], dtype=np.uint64),
        np.array([MERSENNE - 1], dtype=np.uint64),
    )
    assert int(worst[0, 0]) == ((MERSENNE - 1) ** 2 + (MERSENNE - 1)) % MERSENNE


def test_ann_pq_recall_vs_brute(spark, sf_dir):
    """Product-quantization ANN: 8-byte codes + exact re-rank must hold
    a much higher floor than the LSH path (measured 0.76 at sf0.01 on
    near-random vectors; chance ~5/500), return full per-query result
    sets with EXACT sims (re-ranked), and be deterministic (seeded
    codebooks, rounded-sim tie-breaks)."""
    brute = SPECS["ann_brute_topk"].fn(spark, sf_dir).collect()
    pq1 = SPECS["ann_pq_topk"].fn(spark, sf_dir).collect()
    b = {(r["query_id"], r["vec_id"]) for r in brute}
    a = {(r["query_id"], r["vec_id"]) for r in pq1}
    assert len(a & b) / len(b) >= 0.5
    by_q = {}
    for r in pq1:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    assert all(len(v) == 5 for v in by_q.values())
    # sims are EXACT cosines: every overlapping pair agrees with brute
    bsim = {(r["query_id"], r["vec_id"]): r["sim"] for r in brute}
    for r in pq1:
        key = (r["query_id"], r["vec_id"])
        if key in bsim:
            assert r["sim"] == bsim[key]
    pq2 = SPECS["ann_pq_topk"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, pq1)) == sorted(map(tuple, pq2))


# Content hashes of the oracle-less vector entries' rows at sf0.001,
# captured at the commit BEFORE the vector kernels were merged into one
# copy each (ranking tail, probe, ADC shortlist + re-rank). The recall
# floors above pass any good-enough result; these pin the exact rows,
# so a kernel change that moves a single neighbour or sim shows here.
_ROW_PINS = {
    "ann_lsh_topk": ("a0ee91b5d01f5804", 25),
    "ann_ivf_topk": ("eb65d63d388c5259", 25),
    "ann_pq_topk": ("9b2ed3783c94c724", 25),
    "ann_ivf_indexed_topk": ("eb65d63d388c5259", 25),
    "ann_ivfpq_topk": ("aed579646a057574", 25),
}


@pytest.fixture(scope="session")
def vector_entry_rows(spark):
    """Collected rows per entry, computed once per session."""
    cache: dict = {}

    def rows(name: str, sf_dir: str):
        if name not in cache:
            cache[name] = SPECS[name].fn(spark, sf_dir).collect()
        return cache[name]

    return rows


def _rows_hash(rows) -> tuple[str, int]:
    """sha256 prefix over the rows: columns by name, values by repr(),
    NULL as '∅', lines sorted."""
    import hashlib

    cols = sorted(rows[0].asDict()) if rows else []
    lines = sorted(
        "|".join("∅" if r[c] is None else repr(r[c]) for c in cols)
        for r in rows
    )
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return digest, len(rows)


@pytest.mark.parametrize("name", sorted(_ROW_PINS))
def test_oracle_less_vector_entries_pin_rows(vector_entry_rows, sf_dir, name):
    assert _rows_hash(vector_entry_rows(name, sf_dir)) == _ROW_PINS[name]


def test_minhash_incremental_matches_batch(spark, sf_dir):
    """Three-arrival incremental mining against the persisted signature
    index finds EXACTLY the one-shot batch miner's pairs with identical
    verified Jaccards (same seeds, same bands; every cross-arrival pair
    is caught when its later member arrives), and each doc is signed
    exactly once (index = n_docs x LSH_BANDS rows)."""
    inc = SPECS["dedup_minhash_incr"].fn(spark, sf_dir).collect()
    bat = SPECS["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    si = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in inc}
    sb = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in bat}
    assert si == sb


def test_minhash_incremental_index_and_cap(spark, sf_dir, tmp_path):
    """Library contract: the index accumulates one batch of band rows
    per arrival (signed once); a degenerate indexed bucket (engineered:
    many identical docs) emits at most max_bucket pairs per new
    arrival, not one per indexed member."""
    from crest_spark.lakehouse import LakehouseCatalog
    from crest_spark.operators.dedup import (
        LSH_BANDS,
        minhash_incremental_pairs,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    base = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(10)
        .select("doc_id", "text")
    )
    boiler = base.limit(1).collect()[0]["text"]
    hot = spark.createDataFrame(
        [(1000 + i, boiler) for i in range(200)], "doc_id long, text string"
    )
    cat = LakehouseCatalog(str(tmp_path / "wh"))
    index = cat.get_or_create_table(
        "idx",
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("band", LongType()),
                StructField("sig", LongType()),
            ]
        ),
    )
    corpus = base.unionByName(hot)
    p1 = minhash_incremental_pairs(spark, index, hot, corpus, max_bucket=16)
    n1 = p1.count()
    assert index.read(spark).count() == 200 * LSH_BANDS
    new_one = spark.createDataFrame(
        [(5000, boiler)], "doc_id long, text string"
    )
    corpus2 = corpus.unionByName(new_one)
    p2 = minhash_incremental_pairs(
        spark, index, new_one, corpus2, max_bucket=16
    )
    n2 = p2.count()
    # 200 identical indexed docs, cap 16: the new arrival pairs with at
    # most 16 indexed members per bucket, never all 200
    assert 1 <= n2 <= 16
    assert index.read(spark).count() == 201 * LSH_BANDS
    assert n1 > 0  # the hot batch itself chains internally


def test_minhash_incremental_append_idempotent(spark, sf_dir, tmp_path):
    """ADVICE r10: a RETRIED arrival batch must not double-sign its
    docs — writer_id/batch_id kwargs flow through to the index commit,
    so the replay is a no-op and the n_docs * LSH_BANDS invariant
    holds."""
    from crest_spark.lakehouse import LakehouseCatalog
    from crest_spark.operators.dedup import (
        LSH_BANDS,
        minhash_incremental_pairs,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(20)
        .select("doc_id", "text")
    )
    cat = LakehouseCatalog(str(tmp_path / "wh"))
    index = cat.get_or_create_table(
        "idx",
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("band", LongType()),
                StructField("sig", LongType()),
            ]
        ),
    )
    n = docs.count()
    minhash_incremental_pairs(
        spark, index, docs, docs, writer_id="ing", batch_id=1
    )
    assert index.read(spark).count() == n * LSH_BANDS
    # retry of the same batch id: index unchanged
    minhash_incremental_pairs(
        spark, index, docs, docs, writer_id="ing", batch_id=1
    )
    assert index.read(spark).count() == n * LSH_BANDS


def test_capped_index_bands_bit_identical_to_full_cap(spark):
    """The join-reduced cap (semi-join BEFORE the window) returns
    bit-identical bucket membership to the naive full-index cap
    restricted to the arrival's buckets — row_number within a bucket
    does not depend on other buckets."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from crest_spark.operators.dedup import capped_index_bands

    old = spark.range(5000).selectExpr(
        "id as doc_id", "id % 8 as band", "id % 37 as sig"
    )
    new = spark.range(40).selectExpr(
        "id + 9000 as doc_id", "id % 8 as band", "id % 5 as sig"
    )
    got = sorted(
        map(tuple, capped_index_bands(old, new, max_bucket=9).collect())
    )
    w = Window.partitionBy("band", "sig").orderBy("doc_id")
    naive = (
        old.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= 9)
        .drop("_r")
        .join(new.select("band", "sig").distinct(), ["band", "sig"], "left_semi")
        .select("doc_id", "band", "sig")
    )
    want = sorted(map(tuple, naive.collect()))
    assert got == want


def test_minhash_incremental_replay_mines_identical_pairs(
    spark, sf_dir, tmp_path
):
    """VERDICT r11 #3: a replay after a PARTIAL failure (index append
    committed, pairs append crashed) must mine the bit-identical pair
    set. The arrival's own doc_ids are anti-joined out of the old index
    side before the bucket cap, so the replayed batch's docs — already
    IN the index — cannot displace old members of an over-cap bucket
    and change the candidate set."""
    from pyspark.sql.types import LongType, StructField, StructType

    from crest_spark.lakehouse import LakehouseCatalog
    from crest_spark.operators.dedup import (
        LSH_BANDS,
        minhash_incremental_pairs,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
    )
    b1 = docs.where(F.col("doc_id") % 2 == 0)
    b2 = docs.where(F.col("doc_id") % 2 == 1)
    cat = LakehouseCatalog(str(tmp_path / "wh"))
    index = cat.get_or_create_table(
        "idx",
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("band", LongType()),
                StructField("sig", LongType()),
            ]
        ),
    )
    minhash_incremental_pairs(
        spark, index, b1, docs, writer_id="w", batch_id=0
    )
    first = sorted(
        map(
            tuple,
            minhash_incremental_pairs(
                spark, index, b2, docs, writer_id="w", batch_id=1
            ).collect(),
        )
    )
    n = docs.count()
    assert index.read(spark).count() == n * LSH_BANDS
    # crash-after-index-append replay: same (writer, batch), the
    # batch's bands are ALREADY in the index — the mined pairs must be
    # bit-identical and the index must not grow
    replay = sorted(
        map(
            tuple,
            minhash_incremental_pairs(
                spark, index, b2, docs, writer_id="w", batch_id=1
            ).collect(),
        )
    )
    assert replay == first
    assert index.read(spark).count() == n * LSH_BANDS


def test_minhash_incremental_backfill_fallback_matches_pruned_path(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Review r12: the candidate-id verify fetch collects to the driver
    only under the key cap — past it (backfill-sized arrivals) it falls
    back to the full corpus read the semi-join already handles. Both
    paths must return identical pairs."""
    from pyspark.sql.types import LongType, StructField, StructType

    from crest_spark.lakehouse import LakehouseCatalog
    from crest_spark.operators import dedup as dd

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
    )
    b1 = docs.where(F.col("doc_id") % 2 == 0)
    b2 = docs.where(F.col("doc_id") % 2 == 1)

    def run() -> list:
        cat = LakehouseCatalog(
            str(tmp_path / f"wh{dd._INDEX_SCAN_MAX_KEYS}")
        )
        corpus_t = cat.get_or_create_table("docs", docs.schema)
        corpus_t.append(docs, cluster_by=["doc_id"])
        idx = cat.get_or_create_table(
            "idx",
            StructType(
                [
                    StructField("doc_id", LongType()),
                    StructField("band", LongType()),
                    StructField("sig", LongType()),
                ]
            ),
        )
        out = []
        for b in (b1, b2):
            out += dd.minhash_incremental_pairs(
                spark, idx, b, corpus_table=corpus_t
            ).collect()
        return sorted(map(tuple, out))

    pruned = run()
    monkeypatch.setattr(dd, "_INDEX_SCAN_MAX_KEYS", 1)  # force fallback
    fallback = run()
    assert pruned == fallback and len(pruned) > 0


def test_text_docs_spread_parallelizes_without_changing_rows(spark):
    """r14: ``text._docs(spread=True)`` widens the single-file scan so
    per-doc token work parallelizes — rows must be untouched and the
    spread must actually widen the single-partition input."""
    from crest_spark.operators.text import _docs

    sf = "/root/testdata/sf0.001"
    plain = _docs(spark, sf)
    spread = _docs(spark, sf, spread=True)
    assert plain.rdd.getNumPartitions() == 1
    assert spread.rdd.getNumPartitions() > 1
    assert sorted(r["doc_id"] for r in spread.collect()) == sorted(
        r["doc_id"] for r in plain.collect()
    )
