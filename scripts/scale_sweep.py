#!/usr/bin/env python
"""Empirical scaling-exponent sweep (VERDICT r5 next-round #6).

The sub-quadratic claims for the LSH dedup/ANN paths rest on design
argument plus fixed-SF timings; this harness MEASURES the wall-time
scaling exponent. It replicates the sf0.01 documents/embeddings corpora
at 16x..4096x (500 -> 2M rows; r7 extended the range until every
sub-quadratic path's compute is well clear of the ~3s fixed session
overhead that deflated the r6 exponents — VERDICT r6 what's-wrong #3)
with deterministic perturbation that keeps the corpus's NEAR-DUP RATE
constant under replication: ids offset; text replicas get
position-salted marker words interspersed (a suffix-only perturbation
left all replicas of a doc near-dups of EACH OTHER, so the true pair
count — and thus any correct dedup's work — grew quadratically in
scale); embedding DIRECTIONS are jittered (pure magnitude scaling
would leave cosine similarity 1.0 and flood every LSH bucket with k-1
exact twins). Times each operator min-of-RUNS per scale, fits the
log-log slope over its largest measured scale step, caches per-op rows
in docs/scale_sweep_results.json (so --ops reruns refresh one row),
and rewrites the "Measured scaling exponents" section of docs/SCALE.md.

Expectation: the LSH-blocked paths (dedup_minhash_lsh,
dedup_embedding_ann, ann_lsh_topk) stay below ~1.3; the exact
block-pair GEMM path (dedup_embedding_cosine) shows its designed
quadratic growth — that contrast is the certification that the
sub-quadratic routes are real, not flat-overhead artifacts.

Usage:
    python scripts/scale_sweep.py [--scales 16,64,...] [--runs 2]
        [--ops dedup_minhash_lsh,...]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import tempfile
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# operator -> (expected class, rough description for the doc, max scale,
# input tables to replicate).
# max scale: the quadratic baseline is capped — its class is proven by
# 256x (128k vectors, 22s) and 4096x would be ~100x that; the
# sub-quadratic rows extend to 4096x (2M vectors) so their compute is
# well clear of the ~3s fixed session overhead that deflated the r6
# exponents (dedup_embedding_ann measured -0.13 at <=128k, VERDICT r6
# what's-wrong #3). The r8 additions (VERDICT r7 #8) extend the sweep
# beyond the similarity family: the behavioral pair-join (q58, lineitem
# replicated with offset order/part keys — new orders, constant basket
# distribution) and the temporal union-window form (q61, events
# replicated with offset user/event ids — new users, constant per-user
# history); both claim ~linear in their docstrings, capped at 1024x
# (61M lineitem rows) to keep corpus build time sane.
OPERATORS = {
    "dedup_minhash_lsh": ("sub-quadratic", "minhash signatures -> banded buckets -> verify", None, ("documents",)),
    # r10: the incremental twin — three arrival batches against a
    # persisted signature index; same kernel class as the batch miner
    "dedup_minhash_incr": ("sub-quadratic", "sign-once arrivals vs persisted band index -> verify", 1024, ("documents",)),
    "dedup_embedding_ann": ("sub-quadratic", "hyperplane-LSH blocking -> exact-cosine verify", None, ("embeddings",)),
    "ann_lsh_topk": ("sub-quadratic", "LSH-bucketed top-k", None, ("embeddings",)),
    # r10: the PQ route — one encode pass + a codes-only ADC scan, both
    # linear; 64x memory compression is the point (codes vs float64s)
    "ann_pq_topk": ("~linear", "product-quantization codes -> ADC scan -> exact re-rank", None, ("embeddings",)),
    # r11: the IVF-PQ composition (VERDICT r10 what's-missing #4) —
    # coarse cells + residual codes persisted as a lakehouse table;
    # build is one encode pass, the query ADC touches probed cells only
    "ann_ivfpq_topk": ("~linear", "IVF cells + residual PQ codes -> ADC over probed cells -> exact re-rank", None, ("embeddings",)),
    "dedup_embedding_cosine": ("quadratic", "exact block-pair GEMM (designed O(n^2) baseline)", 256, ("embeddings",)),
    "q58_market_basket": ("~linear", "basket pair-join + lift (pair expansion per order)", 1024, ("lineitem",)),
    "q61_scd2_point_in_time": ("~linear", "union-tag + running-last window (join-free PIT)", 1024, ("events",)),
    # r9 additions (VERDICT r8 #1, #6): the containment scale route and
    # the two remaining asymptotic-claim holders without a measured row
    "dedup_containment_capped": ("sub-quadratic", "df-capped inverted index -> exact containment verify", 1024, ("documents",)),
    "dedup_semantic_clusters": ("sub-quadratic", "corpus-scaled k-means cells -> within-cluster pairwise (SemDeDup)", 1024, ("embeddings",)),
    "curation_dsir_weights": ("~linear", "hashed-bucket DSIR weights (constant-size model, broadcast join)", 1024, ("documents",)),
    "text_bigram_nll": ("~linear", "array-zip bigrams + unhinted count joins (KenLM-role NLL)", 1024, ("documents",)),
    "dedup_substring_spans": ("~linear", "window-hash shuffle -> gaps-and-islands span merge", 1024, ("documents",)),
    # r10 addition (VERDICT r9 #7): the first LAKEHOUSE row — a narrow
    # CoW CDC merge against a RENAMED clustered table must cost
    # O(touched files), not O(table): wall time should stay ~FLAT as
    # the table scales 16x -> 1024x (exponent ~0), because the
    # vintage-aware commit-log stats prune every untouched file without
    # opening it and only the admitted file(s) rewrite.
    "lake_merge_after_rename": ("O(touched-files)", "stats-pruned CoW merge on a renamed clustered key (flat = proof)", 1024, ("lineitem",)),
    # r11 (VERDICT r10 next-round #7): the recipe COMPOSITION — one
    # `cli curate` pipeline (exact + containment + quality + pack) over
    # the scaled corpus must inherit its member exponents (expect ~ the
    # max member, ~0.6), proving composition adds no super-linear term
    "curation_recipe": ("sub-quadratic", "cli curate composition: exact+containment+quality+pack", 1024, ("documents",)),
    # r12 (VERDICT r11 next-round #8): the CONTINUOUS-ingestion
    # contract itself — per-arrival-batch cost at FIXED batch size
    # (200 docs) while the signed corpus grows 16x -> 1024x. The whole
    # maintenance step is timed (clustered append + sign + join-reduced
    # mine + candidate-id pruned verify fetch); ~flat (exponent ~0) is
    # the certification that NO per-batch term scales with the corpus —
    # before the r12 pruned fetch this measured the full-table verify
    # read, ~1.0 in I/O.
    "ingest_minhash_arrival": ("O(batch)", "fixed 200-doc arrival vs grown signed corpus: append + sign + mine, pruned verify fetch (flat = proof)", 1024, ("documents",)),
    # r13 (VERDICT r12 #1 done-criterion (c)): the AMORTIZED contract —
    # the r12 row rolled back between arrivals, so the compaction
    # threshold was never crossed at large scale and the full-index
    # rewrite cost (O(corpus) per trigger) stayed invisible. This row
    # accretes 6 consecutive arrivals WITH tail-only compactions firing
    # inside the timed window and reports mean per-batch wall time
    # INCLUDING the rewrites; flat = the amortized term is O(batch).
    "ingest_minhash_accrete": ("O(batch) amortized", "6 accreting 200-doc arrivals, tail-only sig-sort compactions fire in-window (flat = amortized proof)", 1024, ("documents",)),
    # r13 (VERDICT r12 #5): the IVF ingest twin — fixed 512-vector adds
    # + probes + in-window tail-only cell compactions vs a 16x..1024x
    # index, between-rebuild regime (drift rebuilds disabled).
    "ingest_vector_arrival": ("O(batch) amortized", "6 accreting 512-vector ivf_add + probe, tail-only cell compactions fire in-window (flat = proof)", 1024, ("embeddings",)),
}

# ops timed by a CUSTOM routine rather than registry-fn + noop sink
# (the lakehouse scenario separates table BUILD — cached per scale —
# from the timed merge, and rolls back between runs)


def _lake_merge_after_rename(spark, d: str, work: str) -> float:
    """One timed narrow-key copy-on-write CDC merge against a clustered
    lakehouse table built from the scaled lineitem, AFTER a column
    rename (the vintage-aware pruning path: old files' key stats live
    under the old physical name). Table build is cached per scale and
    excluded from timing; every run rolls back to the pre-merge
    version so reruns hit identical state. Returns seconds."""
    import time as _time

    from pyspark.sql import functions as F

    from crest_spark.lakehouse import LakehouseCatalog

    cat = LakehouseCatalog(os.path.join(work, "wh"))
    t = cat.table("li_evo")
    if t.version() == 0:  # not built yet for this scale
        li = (
            spark.read.parquet(os.path.join(d, "lineitem.parquet"))
            .groupBy(F.col("l_orderkey").cast("long").alias("k"))
            .agg(
                F.sum("l_quantity").cast("double").alias("qty"),
                F.sum("l_extendedprice").cast("double").alias("price"),
            )
        )
        t = cat.get_or_create_table(
            "li_evo",
            li.schema,
        )
        # constant-size files, scale-proportional file COUNT — the
        # shape under which "O(touched files)" and "O(table)" diverge
        t.append(li, cluster_by=["k"], max_rows_per_file=60_000)
        t.rename_column("qty", "quantity")
    src = spark.createDataFrame(
        [(k, 99.0, 9999.0) for k in range(1, 101)],
        "k long, quantity double, price double",
    )
    pre = t.version()
    files_before = set(t._state()["files"])
    t0 = _time.perf_counter()
    t.merge(spark, src, key="k")
    dt = _time.perf_counter() - t0
    kept = files_before & set(t._state()["files"])
    touched = len(files_before) - len(kept)
    print(
        f"#   merge touched {touched}/{len(files_before)} files",
        file=sys.stderr,
    )
    if len(files_before) > 8 and touched > max(4, len(files_before) // 8):
        raise AssertionError(
            f"merge rewrote {touched} of {len(files_before)} files — "
            "pruning is not holding, the timing would be meaningless"
        )
    t.rollback(pre)
    return dt


def _curation_recipe(spark, d: str, work: str) -> float:
    """One timed end-to-end `cli curate` run (exact + containment +
    quality + pack) over the scaled documents dir, staging each stage's
    survivors as parquet under the per-scale work dir (the recipe's
    default materialization mode). The composition's wall time should
    scale like its slowest member (containment, ~0.5-0.6), not
    multiply."""
    import shutil
    import time as _time

    from crest_spark.curation_recipe import run_recipe

    recipe = {
        "name": "sweep",
        "source": {"parquet": os.path.join(d, "documents.parquet")},
        "staging": {"dir": os.path.join(work, "stage")},
        "stages": [
            {"op": "exact_dedup"},
            {"op": "containment_dedup", "cap": 1000, "threshold": 0.9},
            {"op": "quality_gate", "min_chars": 40, "max_repeat_ratio": 0.9},
            {"op": "pack", "budget": 512},
        ],
    }
    t0 = _time.perf_counter()
    report = run_recipe(spark, recipe)
    dt = _time.perf_counter() - t0
    assert report["rows_out"] > 0
    shutil.rmtree(work, ignore_errors=True)
    return dt


def _ingest_minhash_arrival(spark, d: str, work: str) -> float:
    """One timed arrival batch (FIXED 200 docs) against a lakehouse
    documents table + signed minhash band index built from the scaled
    corpus (build cached per scale, excluded from timing). The timed
    section is the ingest maintenance step: clustered append + sign +
    join-reduced candidate mine + candidate-id PRUNED verify fetch
    (corpus_table= path). Both tables roll back after each run so
    reruns hit identical state. Flat wall time across corpus scale is
    the continuous-ingestion certification (VERDICT r11 #8)."""
    import time as _time

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from crest_spark.lakehouse import LakehouseCatalog
    from crest_spark.operators.dedup import (
        minhash_incremental_pairs,
        minhash_index_append,
    )

    cat = LakehouseCatalog(os.path.join(work, "wh"))
    t = cat.table("docs")
    idx = cat.table("docs_mh")
    if t.version() == 0:  # not built yet for this scale
        docs = spark.read.parquet(
            os.path.join(d, "documents.parquet")
        ).select(F.col("doc_id").cast("long").alias("doc_id"), "text")
        t = cat.get_or_create_table("docs", docs.schema)
        # constant-size files, scale-proportional file COUNT — the
        # shape under which "O(matching files)" and "O(corpus)" diverge
        t.append(docs, cluster_by=["doc_id"], max_rows_per_file=60_000)
        idx = cat.get_or_create_table(
            "docs_mh",
            StructType(
                [
                    StructField("doc_id", LongType()),
                    StructField("band", LongType()),
                    StructField("sig", LongType()),
                ]
            ),
        )
        minhash_index_append(idx, docs)
    # fixed arrival: 200 base docs re-sent under fresh ids — each is an
    # exact dup of its replica-0 corpus twin, so candidates exist and
    # the verify fetch runs, while the answer stays batch-sized
    arrival = (
        spark.read.parquet(os.path.join(BASE_SF, "documents.parquet"))
        .select(F.col("doc_id").cast("long").alias("doc_id"), "text")
        .where(F.col("doc_id") < 200)
        .select((F.col("doc_id") + 10**12).alias("doc_id"), "text")
        .localCheckpoint()
    )
    pre_t, pre_idx = t.version(), idx.version()
    t0 = _time.perf_counter()
    t.append(arrival, cluster_by=["doc_id"])
    pairs = minhash_incremental_pairs(
        spark, idx, arrival, corpus_table=t
    )
    n = pairs.count()
    dt = _time.perf_counter() - t0
    print(f"#   arrival mined {n} pairs", file=sys.stderr)
    assert n >= 100  # the planted dups were found
    t.rollback(pre_t)
    idx.rollback(pre_idx)
    return dt


def _ingest_minhash_accrete(spark, d: str, work: str) -> float:
    """The no-rollback amortized variant of ``_ingest_minhash_arrival``
    (VERDICT r12 #1 done-criterion (c)): 6 consecutive 200-doc arrivals
    ACCRETE into the corpus + signed index, with the tail-only sig-sort
    compaction policy (threshold: 2 unclustered index files) firing
    INSIDE the timed window — exactly the serial-hook sequence the
    ingest maintenance loop runs. Returns the mean per-batch wall time
    including the compaction rewrites. The cached per-scale build ends
    with one untimed tail compaction so the build itself is a sorted
    run (as it would be under the policy from day one); each timed run
    rolls the tables back to that state afterwards, so reruns hit
    identical layouts. Flat across corpus scale proves the amortized
    compaction term is O(accreted tail), not O(corpus) — under the
    pre-r13 full-index rewrite this row would measure ~1.0."""
    import time as _time

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from crest_spark.lakehouse import LakehouseCatalog
    from crest_spark.operators.dedup import (
        minhash_incremental_pairs,
        minhash_index_append,
    )

    cat = LakehouseCatalog(os.path.join(work, "wh"))
    t = cat.table("docs")
    idx = cat.table("docs_mh")
    if t.version() == 0:  # not built yet for this scale
        docs = spark.read.parquet(
            os.path.join(d, "documents.parquet")
        ).select(F.col("doc_id").cast("long").alias("doc_id"), "text")
        t = cat.get_or_create_table("docs", docs.schema)
        t.append(docs, cluster_by=["doc_id"], max_rows_per_file=60_000)
        idx = cat.get_or_create_table(
            "docs_mh",
            StructType(
                [
                    StructField("doc_id", LongType()),
                    StructField("band", LongType()),
                    StructField("sig", LongType()),
                ]
            ),
        )
        minhash_index_append(idx, docs)
        # fold the build into a sorted run (untimed): under the policy
        # the index is run-shaped from day one; without this the FIRST
        # in-window compaction would rewrite the whole build — the
        # O(corpus) term this row exists to prove absent
        idx.compact(
            spark, target_partitions=8, cluster_by=["sig"], tail_only=True
        )
    pre_t, pre_idx = t.version(), idx.version()
    n_batches, compact_after = 6, 2
    batches = [
        spark.read.parquet(os.path.join(BASE_SF, "documents.parquet"))
        .select(F.col("doc_id").cast("long").alias("doc_id"), "text")
        .where(F.col("doc_id") < 200)
        .select(
            (F.col("doc_id") + 10**12 + k * 10**6).alias("doc_id"), "text"
        )
        .localCheckpoint()
        for k in range(n_batches)
    ]
    n_compacts = 0
    t0 = _time.perf_counter()
    for arrival in batches:
        if (
            idx.unclustered_file_count(cluster_by=["sig"])
            >= compact_after
        ):
            idx.compact(
                spark,
                target_partitions=4,
                cluster_by=["sig"],
                tail_only=True,
            )
            n_compacts += 1
        t.append(arrival, cluster_by=["doc_id"])
        n = minhash_incremental_pairs(
            spark, idx, arrival, corpus_table=t
        ).count()
        assert n >= 100  # the planted dups were found
    dt = (_time.perf_counter() - t0) / n_batches
    print(
        f"#   {n_compacts} in-window tail compactions", file=sys.stderr
    )
    assert n_compacts >= 2, "compactions must fire inside the window"
    t.rollback(pre_t)
    idx.rollback(pre_idx)
    return dt


def _ingest_vector_arrival(spark, d: str, work: str) -> float:
    """The IVF ingest-maintenance twin (VERDICT r12 #5): 6 consecutive
    fixed 512-vector adds against an index built from the scaled
    embeddings corpus, each batch = (amortized tail-only cell
    compaction when the unclustered tail reaches one add-wave) +
    ``ivf_add`` + an 8-query probe through the index — the
    between-rebuild regime (drift reclustering disabled). Mean
    per-batch wall time; flat across index scale proves per-batch add,
    probe, AND amortized compaction are all independent of corpus
    size."""
    import time as _time

    from pyspark.sql import functions as F

    from crest_spark.lakehouse import LakehouseCatalog
    from crest_spark.operators.vector_index import (
        build_ivf_index,
        ivf_add,
        ivf_index_search,
        load_ivf_centroids,
    )

    cat = LakehouseCatalog(os.path.join(work, "wh"))
    t = cat.table("emb_ivf")
    em_base = spark.read.parquet(
        os.path.join(BASE_SF, "embeddings.parquet")
    ).select(F.col("vec_id").cast("long").alias("vec_id"), "embedding")
    if t.version() == 0:  # not built yet for this scale
        em = spark.read.parquet(
            os.path.join(d, "embeddings.parquet")
        ).select(F.col("vec_id").cast("long").alias("vec_id"), "embedding")
        t = build_ivf_index(spark, em, cat, name="emb_ivf")
    n_cells = load_ivf_centroids(t)[1]
    pre = t.version()
    n_batches = 6
    batches = [
        em_base.where(F.col("vec_id") < 512)
        .select(
            (F.col("vec_id") + 10**12 + k * 10**6).alias("vec_id"),
            "embedding",
        )
        .localCheckpoint()
        for k in range(n_batches)
    ]
    queries = em_base.where(F.col("vec_id") < 8).localCheckpoint()
    n_compacts = 0
    phases = {"compact": 0.0, "add": 0.0, "probe": 0.0}
    t0 = _time.perf_counter()
    # one add-wave writes ~1 AQE-sized file since r14 (the per-touched-
    # cell layout wrote O(min(batch, n_cells)) near-empty files — the
    # file-count term this row's r14 per-phase re-measurement
    # attributed the 0.38 exponent to); threshold 2 keeps the
    # amortized rewrite firing (roughly) every other batch at every
    # scale
    compact_after = 2
    for batch in batches:
        p0 = _time.perf_counter()
        if t.compact_tail(
            spark,
            compact_after,
            cluster_by=["cell"],
            cluster_partitions=int(n_cells),
        ) is not None:
            n_compacts += 1
        p1 = _time.perf_counter()
        # huge threshold: no in-place recluster — between-rebuild regime
        ivf_add(spark, t, batch, recluster_threshold=1e9)
        p2 = _time.perf_counter()
        assert ivf_index_search(spark, t, queries, k=5).count() == 40
        p3 = _time.perf_counter()
        phases["compact"] += p1 - p0
        phases["add"] += p2 - p1
        phases["probe"] += p3 - p2
    dt = (_time.perf_counter() - t0) / n_batches
    # per-phase attribution (r13 lesson: instrument before chasing a
    # suspicious exponent — the r13 accrete row's "growth" was warmup)
    print(
        f"#   {n_compacts} in-window tail compactions; per-batch "
        + " ".join(
            f"{k}={v / n_batches:.3f}s" for k, v in phases.items()
        ),
        file=sys.stderr,
    )
    assert n_compacts >= 2, "compactions must fire inside the window"
    t.rollback(pre)
    return dt


CUSTOM_OPS = {
    "lake_merge_after_rename": _lake_merge_after_rename,
    "curation_recipe": _curation_recipe,
    "ingest_minhash_arrival": _ingest_minhash_arrival,
    "ingest_minhash_accrete": _ingest_minhash_accrete,
    "ingest_vector_arrival": _ingest_vector_arrival,
}

MARK_BEGIN = "<!-- scale-sweep:begin -->"
MARK_END = "<!-- scale-sweep:end -->"


def _build_fact_replica(table: str, scale: int, out: str) -> None:
    """Replicate a fact table `scale` times with offset entity keys:
    replica i's keys shift by i*10M, so the scaled corpus means MORE
    entities with the SAME per-entity distribution (baskets per order,
    history per user) — which is what 'scaled corpus' must mean for the
    per-key operators (a key-colliding replication would grow per-key
    volume, changing the algorithm's answer class, not its input size)."""
    import pyarrow.compute as pc

    src = pq.read_table(os.path.join(BASE_SF, f"{table}.parquet"))
    offset_cols = {
        "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
        "events": ("event_id", "user_id"),
    }[table]
    chunks = []
    for i in range(scale):
        t = src
        if i:
            for c in offset_cols:
                t = t.set_column(
                    t.schema.get_field_index(c),
                    t.schema.field(c),
                    pc.add(t[c], i * 10_000_000),
                )
        chunks.append(t)
    pq.write_table(
        pa.concat_tables(chunks).cast(src.schema),
        os.path.join(out, f"{table}.parquet"),
        row_group_size=131_072,
    )


def build_scaled_dir(
    scale: int,
    root: str,
    tables: tuple[str, ...] = ("documents", "embeddings"),
) -> str:
    """Replicate the requested tables `scale` times with deterministic
    perturbation; returns a directory usable as an sf_dir. Existing
    per-table files are reused (one dir serves several op groups)."""
    out = os.path.join(root, f"x{scale}")
    os.makedirs(out, exist_ok=True)
    for t in ("lineitem", "events"):
        if t in tables and not os.path.exists(
            os.path.join(out, f"{t}.parquet")
        ):
            _build_fact_replica(t, scale, out)
    need_docs = "documents" in tables and not os.path.exists(
        os.path.join(out, "documents.parquet")
    )
    need_emb = "embeddings" in tables and not os.path.exists(
        os.path.join(out, "embeddings.parquet")
    )
    if not (need_docs or need_emb):
        return out

    if need_docs:
        _build_documents_replica(scale, out)
    if need_emb:
        _build_embeddings_replica(scale, out)
    return out


def _build_documents_replica(scale: int, out: str) -> None:
    docs = pq.read_table(os.path.join(BASE_SF, "documents.parquet"))
    d = docs.to_pydict()

    def perturb_text(t: str, i: int) -> str:
        """Replica i of a document must NOT be a near-dup of replica j
        (same reason the embeddings get direction jitter): a suffix-only
        perturbation left every replica pair sharing ~all shingles, so
        the TRUE near-dup pair count grew as scale^2 and the first r7
        sweep measured that answer growth (minhash exponent 1.54), not
        the algorithm. A marker every THIRD word was still not enough —
        every 4th word-3-gram stayed marker-free and shared, holding
        cross-replica Jaccard at ~0.25, and with 4096 siblings per base
        doc LSH (correctly) emitted ~J^r per band x C(4096,2) candidate
        pairs per family: quadratic candidate load from the corpus,
        exponent 1.36. An (i, position)-salted marker after EVERY word
        puts a replica-distinct token in EVERY shingle, so cross-replica
        Jaccard ~ 0 and the corpus's near-dup RATE stays constant under
        replication — which is what 'scaled corpus' must mean."""
        if i == 0:
            return t
        return " ".join(
            tok
            for j, wd in enumerate(t.split(" "))
            for tok in (wd, f"r{i}x{j}")
        )

    big = {k: [] for k in d}
    for i in range(scale):
        big["doc_id"].extend(int(x) + i * 10_000_000 for x in d["doc_id"])
        big["text"].extend(perturb_text(t, i) for t in d["text"])
        for k in ("lang", "source", "n_chars"):
            big[k].extend(d[k])
    # BOUNDED ROW GROUPS: Spark parallelizes a parquet scan only at
    # row-group boundaries. pyarrow's default wrote the x4096 corpus as
    # ONE 442 MB file with TWO row groups, capping the scan (and the
    # pipelined signature mapInPandas) at ~2 tasks on a 32-core box —
    # the measured 1024->4096 "exponent 1.31" was core starvation, not
    # algorithmic growth. 32k-row groups give every scale >= 16 splits.
    pq.write_table(
        pa.table(big, schema=docs.schema),
        os.path.join(out, "documents.parquet"),
        row_group_size=32_768,
    )


def _build_embeddings_replica(scale: int, out: str) -> None:
    emb = pq.read_table(os.path.join(BASE_SF, "embeddings.parquet"))
    vec_ids = np.asarray(emb["vec_id"].to_pylist(), dtype=np.int64)
    vecs = np.asarray(emb["embedding"].to_pylist(), dtype=np.float32)
    labels = np.asarray(emb["label"].to_pylist())
    dim = vecs.shape[1]
    all_ids, all_vecs, all_labels = [], [], []
    rng_base = np.arange(dim, dtype=np.float32)
    for i in range(scale):
        if i == 0:
            pv = vecs
        else:
            # deterministic direction jitter: a fixed per-replica pattern
            # scaled to ~1-3% of the vector norm, so replicas are NEAR
            # the original (realistic near-dup tail) without being
            # colinear copies
            pattern = np.sin(rng_base * (i + 1) * 0.7).astype(np.float32)
            norms = np.linalg.norm(vecs, axis=1, keepdims=True)
            pv = vecs + 0.02 * norms * pattern / math.sqrt(dim)
        all_ids.append(vec_ids + i * 10_000_000)
        all_vecs.append(pv)
        all_labels.append(labels)
    # vectorized list<float32> construction (offsets + flat values): the
    # per-row python-list path is minutes/GBs at 4096x (2M vectors)
    flat = np.concatenate(all_vecs).reshape(-1).astype(np.float32)
    n_rows = scale * len(vec_ids)
    offsets = pa.array(
        np.arange(0, (n_rows + 1) * dim, dim, dtype=np.int32)
    )
    emb_arr = pa.ListArray.from_arrays(offsets, pa.array(flat))
    pq.write_table(
        pa.table(
            {
                "vec_id": np.concatenate(all_ids),
                "embedding": emb_arr,
                "label": np.concatenate(all_labels),
            },
        ).cast(emb.schema),
        os.path.join(out, "embeddings.parquet"),
        row_group_size=32_768,
    )


def run_sweep(
    scales: list[int],
    runs: int,
    ops: list[str] | None = None,
    root: str | None = None,
) -> dict[str, dict]:
    from crest_spark.registry import load_all
    from crest_spark.session import get_spark

    specs = load_all()
    spark = get_spark("crest-spark-scale-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    if root is None:
        root = tempfile.mkdtemp(prefix="crest_scale_")
    else:
        os.makedirs(root, exist_ok=True)
    # session warm-up (JVM, Python worker pool)
    spark.range(1024, numPartitions=32).mapInPandas(
        lambda it: it, "id long"
    ).count()

    results: dict[str, dict] = {}
    for name, (klass, desc, max_scale, tables) in OPERATORS.items():
        if ops is not None and name not in ops:
            continue
        custom = CUSTOM_OPS.get(name)
        fn = None if custom else specs[name].fn
        op_scales = [s for s in scales if max_scale is None or s <= max_scale]
        times: dict[int, float] = {}
        for s in op_scales:
            d = build_scaled_dir(s, root, tables)
            best = float("inf")
            for _ in range(runs):
                if custom is not None:
                    # custom routine returns its own timed section
                    # (setup cached per scale, rolled back per run)
                    work = os.path.join(root, f"{name}_x{s}")
                    best = min(best, custom(spark, d, work))
                    continue
                t0 = time.perf_counter()
                # noop sink, not count(): count lets Catalyst prune
                # projected-only work (q61's whole window ran in 0.27s
                # FLAT across 64x of data before this fix — nothing was
                # executing). The LSH family moved <5% under the change
                # (their expensive work feeds filters).
                fn(spark, d).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            times[s] = best
            print(f"# {name} x{s}: {best:.3f}s", file=sys.stderr)
        s_lo, s_hi = op_scales[-2], op_scales[-1]
        exponent = math.log(times[s_hi] / times[s_lo]) / math.log(
            s_hi / s_lo
        )
        results[name] = {
            "class": klass,
            "desc": desc,
            "times": times,
            "exponent": round(exponent, 2),
            "fit_step": (s_lo, s_hi),
        }
    return results


def write_doc(results: dict[str, dict], scales: list[int]) -> None:
    doc = os.path.join(REPO, "docs", "SCALE.md")
    # render the UNION of scales any cached row measured — a partial
    # rerun (--ops X --scales small) must not drop other rows' top-scale
    # columns from the table
    scales = sorted(
        {int(s) for r in results.values() for s in r["times"]}
    )
    with open(doc) as fh:
        content = fh.read()
    lines = [
        MARK_BEGIN,
        "",
        "## Measured scaling exponents",
        "",
        f"Corpus: sf0.01 inputs replicated "
        f"{'/'.join(f'{s}x' for s in scales)} with deterministic "
        "perturbation (`scripts/scale_sweep.py` — documents get "
        "per-replica salted text, embeddings direction jitter, "
        "lineitem/events offset entity keys); times are min-of-k on "
        "local[32]; per-operator exponent = log-log slope over its "
        "largest measured scale step (the quadratic baseline is capped "
        "at 256x — its class was already proven there, and 4096x would "
        "be ~100x that wall time; the fact-table ops and the r9 rows "
        "are capped at 1024x = 61M lineitem rows / 512k docs).",
        "",
        "| Operator | class | "
        + " | ".join(f"t({s}x) s" for s in scales)
        + " | fit step | measured exponent |",
        "|---|---|" + "---|" * (len(scales) + 2),
    ]
    for name, r in results.items():
        cells = " | ".join(
            f"{r['times'][s]:.2f}" if s in r["times"] else "—"
            for s in scales
        )
        lo, hi = r["fit_step"]
        lines.append(
            f"| {name} | {r['class']} | {cells} | {lo}x->{hi}x "
            f"| **{r['exponent']:.2f}** |"
        )
    # the prose is DERIVED from the table it sits under, never asserted
    # independently of it (VERDICT r7 what's-wrong #1: a stale
    # "near-linear" claim survived next to a measured 1.50)
    sub_q = {
        n: r
        for n, r in results.items()
        if r["class"] != "quadratic"
    }
    holding = sorted(n for n, r in sub_q.items() if r["exponent"] <= 1.3)
    breaching = sorted(n for n, r in sub_q.items() if r["exponent"] > 1.3)
    reading = (
        "Reading: with the similarity-family sweeps extended until "
        "compute is well clear of the ~3s fixed session overhead "
        "(t >= 10s at max scale for the LSH rows), "
    )
    if holding:
        reading += (
            f"{', '.join(holding)} hold exponents <= 1.3 over their "
            "largest measured step"
        )
    if breaching:
        reading += (
            (";  " if holding else "")
            + f"**{', '.join(breaching)} measured ABOVE 1.3 — the "
            "sub-quadratic claim is NOT certified for "
            + ("it" if len(breaching) == 1 else "them")
            + " at this scale and the cause must be diagnosed before "
            "relying on it**"
        )
    reading += (
        ". The exact GEMM baseline grows super-linearly on the same "
        "corpus — that contrast is what certifies the sub-quadratic "
        "routes as real rather than flat-overhead artifacts."
    )
    lines += ["", reading, MARK_END]
    block = "\n".join(lines)
    if MARK_BEGIN in content:
        pre = content[: content.index(MARK_BEGIN)]
        post = content[content.index(MARK_END) + len(MARK_END):]
        content = pre + block + post
    else:
        content = content.rstrip() + "\n\n" + block + "\n"
    with open(doc, "w") as fh:
        fh.write(content)
    print(f"wrote {doc}")


_CACHE = os.path.join(REPO, "docs", "scale_sweep_results.json")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="16,64,256,1024,4096")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument(
        "--ops",
        default=None,
        help="comma list of operators to (re)measure; others keep their"
        " cached rows from docs/scale_sweep_results.json",
    )
    ap.add_argument(
        "--no-doc", action="store_true", help="print only, don't rewrite SCALE.md"
    )
    ap.add_argument(
        "--root",
        default=None,
        help="directory for the scaled corpora (reused across runs; "
        "default: a fresh temp dir)",
    )
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]
    ops = args.ops.split(",") if args.ops else None
    results = run_sweep(scales, args.runs, ops=ops, root=args.root)
    # merge with cached rows so per-operator reruns refresh one row
    # without discarding the rest (and the doc always renders the full
    # table from one consistent store)
    merged: dict[str, dict] = {}
    if os.path.exists(_CACHE):
        with open(_CACHE) as fh:
            merged = json.load(fh)
    for name, r in merged.items():
        r["times"] = {int(k): v for k, v in r["times"].items()}
    merged.update(results)
    merged = {k: merged[k] for k in OPERATORS if k in merged}
    with open(_CACHE, "w") as fh:
        json.dump(merged, fh, indent=1)
    for name, r in merged.items():
        print(name, r["times"], "exponent:", r["exponent"])
    if not args.no_doc:
        write_doc(merged, scales)


if __name__ == "__main__":
    main()
