"""Incremental materialized aggregate views (lakehouse/matview.py).

The invariant under test everywhere: after any sequence of source
appends + refreshes, ``view.read()`` equals a from-scratch groupBy over
the CURRENT source snapshot — i.e. incremental maintenance is
observationally identical to recomputation.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from crest_spark.lakehouse.catalog import LakehouseCatalog
from crest_spark.lakehouse.matview import AggSpec, IncrementalAggView
from crest_spark.sources.tables import load_table


@pytest.fixture()
def catalog(tmp_path):
    return LakehouseCatalog(str(tmp_path / "warehouse"))


def _view(catalog, name="li_by_flag"):
    return IncrementalAggView(
        catalog,
        source="li",
        name=name,
        group_by=["l_returnflag", "l_linestatus"],
        aggs={
            "sum_qty": AggSpec("sum", "l_quantity"),
            "n_rows": AggSpec("count"),
            "min_price": AggSpec("min", "l_extendedprice"),
            "max_price": AggSpec("max", "l_extendedprice"),
            "avg_disc": AggSpec("avg", "l_discount"),
        },
    )


def _expected(src_df):
    return {
        (r["l_returnflag"], r["l_linestatus"]): r
        for r in src_df.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            F.avg("l_discount").alias("avg_disc"),
        )
        .collect()
    }


def _assert_matches(view, spark, src_table):
    exp = _expected(src_table.read(spark))
    got = {
        (r["l_returnflag"], r["l_linestatus"]): r
        for r in view.read(spark).collect()
    }
    assert set(got) == set(exp)
    for k, e in exp.items():
        g = got[k]
        for c in ("sum_qty", "n_rows", "min_price", "max_price", "avg_disc"):
            if isinstance(e[c], float):
                assert math.isclose(g[c], e[c], rel_tol=1e-9), (k, c, g[c], e[c])
            else:
                assert g[c] == e[c], (k, c)


def test_incremental_refresh_matches_recompute(spark, catalog, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    src = catalog.get_or_create_table("li", li.schema)
    view = _view(catalog)

    src.append(li.where(F.col("l_orderkey") % 3 == 0))
    assert view.refresh(spark) is not None
    _assert_matches(view, spark, src)

    # second batch: overlapping groups fold, new rows extend extremes
    src.append(li.where(F.col("l_orderkey") % 3 == 1))
    view.refresh(spark)
    _assert_matches(view, spark, src)

    # already current -> no-op, no new commit
    v = view.mv.version()
    assert view.refresh(spark) is None
    assert view.mv.version() == v


def test_refresh_skips_source_compaction(spark, catalog, sf_dir):
    """A rowset-preserving compaction of the source contributes an empty
    delta — the view must neither fail nor double-count."""
    li = load_table(spark, sf_dir, "lineitem")
    src = catalog.get_or_create_table("li", li.schema)
    view = _view(catalog)

    src.append(li.where(F.col("l_orderkey") % 3 == 0))
    src.append(li.where(F.col("l_orderkey") % 3 == 1))
    view.refresh(spark)
    src.compact(spark)
    src.append(li.where(F.col("l_orderkey") % 3 == 2))
    view.refresh(spark)
    _assert_matches(view, spark, src)


def test_full_refresh_recovers_from_source_overwrite(spark, catalog, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    src = catalog.get_or_create_table("li", li.schema)
    view = _view(catalog)

    src.append(li.where(F.col("l_orderkey") % 2 == 0))
    view.refresh(spark)
    src.overwrite(li.where(F.col("l_orderkey") % 5 == 0))
    with pytest.raises(ValueError, match="replace"):
        view.refresh(spark)
    view.full_refresh(spark)
    _assert_matches(view, spark, src)
    # incremental maintenance resumes cleanly past the overwrite
    src.append(li.where(F.col("l_orderkey") % 5 == 1))
    view.refresh(spark)
    _assert_matches(view, spark, src)


def test_refresh_commit_is_exactly_once(spark, catalog, sf_dir):
    """mv_source_version rides in the same commit as the fold: a replayed
    refresh after a 'crash' between compute and commit cannot
    double-count."""
    li = load_table(spark, sf_dir, "lineitem")
    src = catalog.get_or_create_table("li", li.schema)
    view = _view(catalog)
    src.append(li.where(F.col("l_orderkey") % 3 == 0))
    view.refresh(spark)

    src.append(li.where(F.col("l_orderkey") % 3 == 1))
    # simulated crash: delta computed but commit never happened -> the
    # next refresh() re-derives the same delta from the same watermark
    assert view.maintained_version() < src.version()
    view.refresh(spark)
    view.refresh(spark)  # replay: no-op
    _assert_matches(view, spark, src)


def test_continuous_maintenance_availablenow(spark, catalog, sf_dir, tmp_path):
    li = load_table(spark, sf_dir, "lineitem").limit(2000).cache()
    li.count()
    src = catalog.get_or_create_table("li", li.schema)
    view = _view(catalog)
    src.append(li.where(F.col("l_orderkey") % 2 == 0))
    src.append(li.where(F.col("l_orderkey") % 2 == 1))

    ckpt = str(tmp_path / "ckpt")
    q = view.maintain_continuously(spark, ckpt, available_now=True)
    q.awaitTermination(120)
    _assert_matches(view, spark, src)

    # restart with the same checkpoint after one more append: only the
    # new commit is folded, committed batches are not re-applied
    src.append(li.where(F.col("l_orderkey") % 7 == 3))
    q = view.maintain_continuously(spark, ckpt, available_now=True)
    q.awaitTermination(120)
    _assert_matches(view, spark, src)
    li.unpersist()


def test_continuous_maintenance_over_staged_source(
    spark, catalog, sf_dir, tmp_path
):
    """A discarded staged batch never reaches the view and a published
    one is folded once, at its publish commit, not at its staged one."""
    li = load_table(spark, sf_dir, "lineitem").limit(2000).cache()
    li.count()
    src = catalog.get_or_create_table("li", li.schema)
    view = _view(catalog)
    src.append(li.where(F.col("l_orderkey") % 3 == 0))
    src.discard_staged(
        [src.append(li.where(F.col("l_orderkey") % 3 == 1), stage=True)]
    )
    src.publish_staged(
        [src.append(li.where(F.col("l_orderkey") % 3 == 2), stage=True)]
    )

    q = view.maintain_continuously(
        spark, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)
    _assert_matches(view, spark, src)
    li.unpersist()


def test_full_refresh_recovers_from_source_expiry(spark, catalog, sf_dir):
    """Expiring source history past the view's watermark merges the
    missed commits into the expiry boundary, which no incremental read
    can split: refresh raises and ``full_refresh()`` recovers."""
    li = load_table(spark, sf_dir, "lineitem")
    src = catalog.get_or_create_table("li", li.schema)
    view = _view(catalog)
    src.append(li.where(F.col("l_orderkey") % 4 == 0))
    view.refresh(spark)
    src.append(li.where(F.col("l_orderkey") % 4 == 1))
    src.append(li.where(F.col("l_orderkey") % 4 == 2))
    assert src.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="expired"):
        view.refresh(spark)
    view.full_refresh(spark)
    _assert_matches(view, spark, src)
    src.append(li.where(F.col("l_orderkey") % 4 == 3))
    view.refresh(spark)
    _assert_matches(view, spark, src)


def test_new_view_builds_over_expired_source_history(
    spark, catalog, sf_dir, tmp_path
):
    """A view that does not exist yet has no watermark, and a source
    whose history was expired has no delta from version 0: the view's
    first refresh (and its first continuous run) builds it from the
    source snapshot, so it still yields the recomputed aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    src = catalog.get_or_create_table("li", li.schema)
    src.append(li.where(F.col("l_orderkey") % 2 == 0))
    src.append(li.where(F.col("l_orderkey") % 2 == 1))
    assert src.expire_snapshots(keep_last=1)
    view = _view(catalog)
    assert view.refresh(spark) is not None
    _assert_matches(view, spark, src)
    cont = _view(catalog, name="li_by_flag_cont")
    q = cont.maintain_continuously(
        spark, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)
    _assert_matches(cont, spark, src)


def test_full_refresh_pins_the_source_version_it_records(
    spark, catalog, sf_dir, monkeypatch
):
    """A source commit that lands between ``full_refresh`` taking the
    source head and reading the snapshot is not folded into the view
    under the older watermark: the next refresh folds it exactly once."""
    li = load_table(spark, sf_dir, "lineitem")
    src = catalog.get_or_create_table("li", li.schema)
    src.append(li.where(F.col("l_orderkey") % 2 == 0))
    view = _view(catalog)
    pinned = src.version()
    head = view.source.version

    def head_then_commit():
        v = head()
        monkeypatch.undo()
        src.append(li.where(F.col("l_orderkey") % 2 == 1))
        return v

    monkeypatch.setattr(view.source, "version", head_then_commit)
    view.full_refresh(spark)
    assert view.maintained_version() == pinned
    assert src.version() == pinned + 1
    view.refresh(spark)
    _assert_matches(view, spark, src)


def test_approx_distinct_sketch_state(spark, catalog, sf_dir):
    """HLL sketch state maintains a holistic aggregate incrementally:
    after two refreshes the estimate must be within HLL tolerance of the
    exact distinct count over the full source (lgK=12 -> ~1.6% rse; 5%
    gate) and at least as large as each batch alone."""
    li = load_table(spark, sf_dir, "lineitem")
    src = catalog.get_or_create_table("li", li.schema)
    view = IncrementalAggView(
        catalog,
        source="li",
        name="li_dv",
        group_by=["l_returnflag"],
        aggs={"nd_parts": AggSpec("approx_distinct", "l_partkey")},
    )
    src.append(li.where(F.col("l_orderkey") % 2 == 0))
    view.refresh(spark)
    src.append(li.where(F.col("l_orderkey") % 2 == 1))
    view.refresh(spark)

    exact = {
        r["l_returnflag"]: r["nd"]
        for r in src.read(spark)
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("nd"))
        .collect()
    }
    got = {r["l_returnflag"]: r["nd_parts"] for r in view.read(spark).collect()}
    assert set(got) == set(exact)
    for k, e in exact.items():
        assert abs(got[k] - e) / e < 0.05, (k, got[k], e)


def test_approx_percentile_histogram_state(spark, catalog, sf_dir):
    """Fixed-range histogram state maintains a holistic quantile
    incrementally: after two refreshes the p50/p90 estimates are within
    one bucket width of the exact percentiles over the full source, and
    the incrementally-maintained state equals a full_refresh recompute
    exactly (merge is element-wise addition, order-independent)."""
    li = load_table(spark, sf_dir, "lineitem")
    src = catalog.get_or_create_table("li", li.schema)
    lo, hi, buckets = 900.0, 105000.0, 208
    width = (hi - lo) / buckets

    def make(name):
        return IncrementalAggView(
            catalog,
            source="li",
            name=name,
            group_by=["l_returnflag"],
            aggs={
                "p50_price": AggSpec(
                    "approx_percentile", "l_extendedprice",
                    p=0.5, lo=lo, hi=hi, buckets=buckets,
                ),
                "p90_price": AggSpec(
                    "approx_percentile", "l_extendedprice",
                    p=0.9, lo=lo, hi=hi, buckets=buckets,
                ),
            },
        )

    view = make("li_pct")
    src.append(li.where(F.col("l_orderkey") % 2 == 0))
    view.refresh(spark)
    src.append(li.where(F.col("l_orderkey") % 2 == 1))
    view.refresh(spark)

    exact = {
        r["l_returnflag"]: (r["p50"], r["p90"])
        for r in src.read(spark)
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.9)").alias("p90"),
        )
        .collect()
    }
    got = {
        r["l_returnflag"]: (r["p50_price"], r["p90_price"])
        for r in view.read(spark).collect()
    }
    assert set(got) == set(exact)
    for k, (e50, e90) in exact.items():
        g50, g90 = got[k]
        assert abs(g50 - e50) <= width, (k, g50, e50)
        assert abs(g90 - e90) <= width, (k, g90, e90)

    # incremental == one-shot recompute, bit-identical state
    ref = make("li_pct_full")
    ref.full_refresh(spark)
    inc = {r["l_returnflag"]: r for r in view.read(spark).collect()}
    ful = {r["l_returnflag"]: r for r in ref.read(spark).collect()}
    assert inc.keys() == ful.keys()
    for k in inc:
        assert inc[k]["p50_price"] == ful[k]["p50_price"]
        assert inc[k]["p90_price"] == ful[k]["p90_price"]


def test_view_maintains_over_upsert_source_via_change_feed(
    spark, catalog, sf_dir
):
    """The differential-dataflow case: a view whose aggregates are all
    retractable (sum/count/avg/histogram-percentile) keeps maintaining
    incrementally while the SOURCE is upserted and row-deleted — the
    change feed folds with signs, and after every wave the view equals a
    from-scratch recompute over the current source snapshot."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    ).withColumn(
        "rid",
        F.col("l_orderkey") * 10 + F.col("l_linenumber"),
    )
    src = catalog.get_or_create_table("li_cdc", li.schema)
    view = IncrementalAggView(
        catalog,
        source="li_cdc",
        name="li_cdc_agg",
        group_by=["l_returnflag"],
        aggs={
            "sum_qty": AggSpec("sum", "l_quantity"),
            "n_rows": AggSpec("count"),
            "avg_qty": AggSpec("avg", "l_quantity"),
        },
    )

    def check():
        exp = {
            r["l_returnflag"]: (r["s"], r["n"])
            for r in src.read(spark)
            .groupBy("l_returnflag")
            .agg(
                F.sum("l_quantity").alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        }
        got = {
            r["l_returnflag"]: (r["sum_qty"], r["n_rows"], r["avg_qty"])
            for r in view.read(spark).collect()
        }
        live = {k: v for k, v in exp.items() if v[1] > 0}
        for k, (s, n) in live.items():
            gs, gn, ga = got[k]
            assert gn == n, (k, gn, n)
            assert abs(gs - s) < 1e-6, (k, gs, s)
            assert abs(ga - s / n) < 1e-6, (k, ga)
        # fully-retracted groups may linger with zeroed state
        for k in set(got) - set(live):
            assert got[k][1] == 0

    # wave 1: plain append
    src.append(li.where(F.col("l_orderkey") % 2 == 0))
    view.refresh(spark)
    check()
    # wave 2: upsert — half the existing rows change quantity, new rows
    # arrive (odd orderkeys)
    updates = (
        li.where(F.col("l_orderkey") % 4 == 0)
        .withColumn("l_quantity", F.col("l_quantity") + 1000.0)
        .unionByName(li.where(F.col("l_orderkey") % 2 == 1))
    )
    src.merge(spark, updates, key="rid", change_feed=True)
    view.refresh(spark)
    check()
    # wave 3: row-level delete of one flag's rows
    src.delete(spark, {"l_orderkey": (None, 500)}, change_feed=True)
    view.refresh(spark)
    check()
    # a view with a non-retractable agg refuses the merge delta
    minview = IncrementalAggView(
        catalog,
        source="li_cdc",
        name="li_cdc_min",
        group_by=["l_returnflag"],
        aggs={"min_qty": AggSpec("min", "l_quantity")},
    )
    with pytest.raises(ValueError):
        minview.refresh(spark)
    # ... and full_refresh remains its escape hatch
    minview.full_refresh(spark)
    exp_min = {
        r["l_returnflag"]: r["m"]
        for r in src.read(spark)
        .groupBy("l_returnflag")
        .agg(F.min("l_quantity").alias("m"))
        .collect()
    }
    got_min = {
        r["l_returnflag"]: r["min_qty"]
        for r in minview.read(spark).collect()
    }
    assert got_min == exp_min


def test_continuous_maintenance_over_upsert_source(
    spark, catalog, sf_dir, tmp_path
):
    """Continuous (availableNow) maintenance tails the CHANGE FEED when
    the view is retractable: appends, an upsert, and a row-delete on the
    source all fold through one stream, and the view equals a batch
    recompute after each drain — including across a checkpoint restart."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .limit(2000)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        .withColumn("rid", F.col("l_orderkey") * 10 + F.col("l_linenumber"))
        .cache()
    )
    li.count()
    src = catalog.get_or_create_table("li_ccdc", li.schema)
    view = IncrementalAggView(
        catalog,
        source="li_ccdc",
        name="li_ccdc_agg",
        group_by=["l_returnflag"],
        aggs={
            "sum_qty": AggSpec("sum", "l_quantity"),
            "n_rows": AggSpec("count"),
        },
    )

    def check():
        exp = {
            r["l_returnflag"]: (r["s"], r["n"])
            for r in src.read(spark)
            .groupBy("l_returnflag")
            .agg(
                F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("n")
            )
            .collect()
        }
        got = {
            r["l_returnflag"]: (r["sum_qty"], r["n_rows"])
            for r in view.read(spark).collect()
            if r["n_rows"] > 0
        }
        assert set(got) == set(exp)
        for k, (s, n) in exp.items():
            assert got[k][1] == n
            assert abs(got[k][0] - s) < 1e-6

    src.append(li.where(F.col("l_orderkey") % 2 == 0))
    src.merge(
        spark,
        li.withColumn("l_quantity", F.col("l_quantity") + 7.0),
        key="rid",
        change_feed=True,
    )
    ckpt = str(tmp_path / "ckpt_cdc")
    q = view.maintain_continuously(spark, ckpt, available_now=True)
    q.awaitTermination(120)
    check()
    # new waves after the drain: delete + another upsert, then restart
    # from the same checkpoint
    src.delete(spark, {"l_orderkey": (None, 300)}, change_feed=True)
    src.merge(
        spark,
        li.where(F.col("l_orderkey") > 500).withColumn(
            "l_quantity", F.col("l_quantity") + 100.0
        ),
        key="rid",
        change_feed=True,
    )
    q = view.maintain_continuously(spark, ckpt, available_now=True)
    q.awaitTermination(120)
    check()
    li.unpersist()


def test_cdc_fold_random_op_sequences(spark, catalog):
    """Fuzz the differential fold: random sequences of append / upsert /
    tombstone-merge / range-delete against a small keyed table, with a
    view refresh and a view==recompute check after EVERY commit. Any
    sign error, missed preimage, or double-counted change surfaces as a
    drift that then compounds."""
    import random

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("grp", StringType()),
            StructField("val", DoubleType()),
            StructField("seq", LongType()),
        ]
    )

    def rows(rng, n, seq):
        return [
            (
                rng.randrange(0, 40),
                rng.choice(["a", "b", "c"]),
                round(rng.uniform(-5, 5), 3),
                seq,
            )
            for _ in range(n)
        ]

    for seed in (7, 23):
        rng = random.Random(seed)
        name = f"fuzz_{seed}"
        src = catalog.get_or_create_table(name, schema)
        view = IncrementalAggView(
            catalog,
            source=name,
            name=f"{name}_agg",
            group_by=["grp"],
            aggs={
                "n": AggSpec("count"),
                "s": AggSpec("sum", "val"),
                "a": AggSpec("avg", "val"),
            },
        )
        # seed data, then a random op mix
        seq = 0
        src.append(spark.createDataFrame(rows(rng, 30, seq), schema))
        for step in range(4):
            seq += 1
            op = rng.choice(
                ["append", "upsert", "tombstone", "delete", "update"]
            )
            if op == "append":
                # fresh keys only (appending an existing key would create
                # a duplicate the merge contract later collapses)
                fresh = [
                    (k + 1000 * seq, g, v, s)
                    for (k, g, v, s) in rows(rng, 10, seq)
                ]
                src.append(spark.createDataFrame(fresh, schema))
            elif op == "upsert":
                src.merge(
                    spark,
                    spark.createDataFrame(rows(rng, 15, seq), schema),
                    key="k",
                    sequence_col="seq",
                    change_feed=True,
                )
            elif op == "tombstone":
                tomb = spark.createDataFrame(
                    rows(rng, 8, seq), schema
                ).withColumn("_del", F.lit(True))
                src.merge(
                    spark,
                    tomb,
                    key="k",
                    sequence_col="seq",
                    delete_col="_del",
                    change_feed=True,
                )
            elif op == "delete":
                lo = rng.randrange(0, 30)
                src.delete(spark, {"k": (lo, lo + 5)}, change_feed=True)
            else:
                lo = rng.randrange(0, 30)
                src.update(
                    spark,
                    {"k": (lo, lo + 8)},
                    {"val": "val + 1.5"},
                    change_feed=True,
                )
            view.refresh(spark)
            exp = {
                r["grp"]: (r["n"], round(r["s"], 6))
                for r in src.read(spark)
                .groupBy("grp")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("val").alias("s"))
                .collect()
            }
            got = {
                r["grp"]: (r["n"], round(r["s"], 6))
                for r in view.read(spark).collect()
                if r["n"] > 0
            }
            assert got == exp, (seed, step, op, got, exp)


def test_view_refresh_across_source_schema_evolution(spark, catalog, sf_dir):
    """A source that EVOLVES (new column) mid-history keeps feeding its
    view: change files staged before the evolution read with NULLs for
    the new column, and a view aggregating the new column counts only
    rows that actually carry it."""
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    src = catalog.get_or_create_table("nat_ev", nat.schema)
    src.append(nat)
    # a CDF merge BEFORE evolution
    src.merge(
        spark,
        nat.withColumn("n_regionkey", F.col("n_regionkey") + 10),
        key="n_nationkey",
        change_feed=True,
    )
    # evolve: new column arrives (append with merge_schema)
    evolved = nat.withColumn("n_regionkey", F.col("n_regionkey") + 10).withColumn(
        "bonus", F.lit(2.5)
    ).withColumn("n_nationkey", F.col("n_nationkey") + 100)
    src.append(evolved, merge_schema=True)
    view = IncrementalAggView(
        catalog,
        source="nat_ev",
        name="nat_ev_agg",
        group_by=["n_regionkey"],
        aggs={
            "n": AggSpec("count"),
            "sum_bonus": AggSpec("sum", "bonus"),
        },
    )
    view.refresh(spark)
    exp = {
        r["n_regionkey"]: (r["n"], r["s"])
        for r in src.read(spark)
        .groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("bonus").alias("s"))
        .collect()
    }
    got = {
        r["n_regionkey"]: (r["n"], r["sum_bonus"])
        for r in view.read(spark).collect()
        if r["n"] > 0
    }
    assert got == exp


def test_approx_top_k_misra_gries_state(spark, catalog):
    """Mergeable heavy-hitters state: a skewed token stream folded over
    two refreshes must keep every true heavy token (count > N/(K+1))
    with an estimate in [true - N/(K+1), true], per group."""
    import collections

    K = 16
    rows = []
    for i in range(6000):
        grp = "g%d" % (i % 2)
        # 7 heavy tokens (~n/14 hits each) over a long singleton tail
        tok = "hot%d" % (i % 7) if i % 2 == 0 else "cold%d" % i
        rows.append((i, grp, tok))
    df = spark.createDataFrame(rows, ["id", "grp", "tok"])
    src = catalog.get_or_create_table("mgsrc", df.schema)
    view = IncrementalAggView(
        catalog,
        source="mgsrc",
        name="mgview",
        group_by=["grp"],
        aggs={"top_toks": AggSpec("approx_top_k", "tok", top_k=K)},
    )
    src.append(df.where(F.col("id") < 3000))
    view.refresh(spark)
    src.append(df.where(F.col("id") >= 3000))
    view.refresh(spark)

    true_counts: dict[str, collections.Counter] = {}
    n_per_group: dict[str, int] = {}
    for _, grp, tok in rows:
        true_counts.setdefault(grp, collections.Counter())[tok] += 1
        n_per_group[grp] = n_per_group.get(grp, 0) + 1

    out = {r["grp"]: r for r in view.read(spark).collect()}
    assert set(out) == set(true_counts)
    for grp, r in out.items():
        assert len(r["top_toks"]) <= K
        bound = n_per_group[grp] / (K + 1)
        assert abs(r["top_toks_err"] - bound) < 1e-9
        est = {e["k"]: e["c"] for e in r["top_toks"]}
        for tok, true_c in true_counts[grp].items():
            if true_c > bound:  # guaranteed present
                assert tok in est, (grp, tok, true_c, bound)
            if tok in est:
                assert est[tok] <= true_c
                assert true_c - est[tok] <= bound + 1e-9


def test_approx_top_k_rejects_nonpositive_k(catalog):
    """ADVICE r4 regression: top_k=0 would make the Misra-Gries partial
    subtract the rank-1 count from everything — a permanently empty
    summary with no error. Reject at construction like the percentile
    param validation."""
    with pytest.raises(ValueError, match="top_k"):
        IncrementalAggView(
            catalog,
            source="li",
            name="bad_topk",
            group_by=["l_returnflag"],
            aggs={"toks": AggSpec("approx_top_k", "l_linestatus", top_k=0)},
        )


def test_continuous_maintenance_over_mor_upsert_source(
    spark, catalog, sf_dir, tmp_path
):
    """The r6 streaming composition: continuous (availableNow) view
    maintenance tails the change feed of a MERGE-ON-READ upsert source.
    Hot-key MoR deltas (and a MoR predicate delete) stage change sets;
    the crest_table stream consumes them as CDF partitions instead of
    raising, the view equals a batch recompute after each drain, and no
    source data file was rewritten by any delta commit."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .limit(2000)
        .dropDuplicates(["l_orderkey", "l_linenumber"])
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        .withColumn("rid", F.col("l_orderkey") * 10 + F.col("l_linenumber"))
        .cache()
    )
    li.count()
    src = catalog.get_or_create_table("li_morcdc", li.schema)
    view = IncrementalAggView(
        catalog,
        source="li_morcdc",
        name="li_morcdc_agg",
        group_by=["l_returnflag"],
        aggs={
            "sum_qty": AggSpec("sum", "l_quantity"),
            "n_rows": AggSpec("count"),
        },
    )

    def check():
        exp = {
            r["l_returnflag"]: (r["s"], r["n"])
            for r in src.read(spark)
            .groupBy("l_returnflag")
            .agg(
                F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("n")
            )
            .collect()
        }
        got = {
            r["l_returnflag"]: (r["sum_qty"], r["n_rows"])
            for r in view.read(spark).collect()
            if r["n_rows"] > 0
        }
        assert set(got) == set(exp)
        for k, (s, n) in exp.items():
            assert got[k][1] == n
            assert abs(got[k][0] - s) < 1e-6

    src.append(li.where(F.col("l_orderkey") % 2 == 0))
    files_after_bootstrap = set(src._state()["files"])
    src.merge(
        spark,
        li.withColumn("l_quantity", F.col("l_quantity") + 7.0),
        key="rid",
        change_feed=True,
        strategy="mor",
    )
    ckpt = str(tmp_path / "ckpt_morcdc")
    q = view.maintain_continuously(spark, ckpt, available_now=True)
    q.awaitTermination(120)
    check()
    # second wave WHILE deltas are pending: hot-key MoR merge + MoR
    # predicate delete, drained from the same checkpoint
    src.merge(
        spark,
        li.where(F.col("l_orderkey") > 500).withColumn(
            "l_quantity", F.col("l_quantity") + 100.0
        ),
        key="rid",
        change_feed=True,
        strategy="mor",
    )
    src.delete(
        spark, {"l_orderkey": (None, 300)}, change_feed=True, mode="mor"
    )
    assert src._state()["deletes"]  # still merge-on-read at drain time
    assert files_after_bootstrap <= set(src._state()["files"])
    q = view.maintain_continuously(spark, ckpt, available_now=True)
    q.awaitTermination(120)
    check()
    li.unpersist()


def test_partial_layout_and_null_group_hist(spark, catalog, sf_dir):
    """The two-level histogram partial (r14) must keep the exact state
    layout the single-level form created view tables with — group cols,
    inline states in agg order, histogram states in agg order, key —
    and a group whose delta values are all NULL must still carry the
    zero vector, not a NULL state."""
    li = load_table(spark, sf_dir, "lineitem").limit(0)
    view = IncrementalAggView(
        catalog,
        source="li",
        name="li_mixed",
        group_by=["l_returnflag"],
        aggs={
            "p50_price": AggSpec(
                "approx_percentile", "l_extendedprice",
                p=0.5, lo=0.0, hi=1000.0, buckets=10,
            ),
            "sum_qty": AggSpec("sum", "l_quantity"),
            "p90_price": AggSpec(
                "approx_percentile", "l_extendedprice",
                p=0.9, lo=0.0, hi=1000.0, buckets=10,
            ),
        },
    )
    delta = spark.createDataFrame(
        [("A", 1.0, None), ("A", 2.0, None), ("B", 3.0, 50.0)],
        "l_returnflag string, l_quantity double, l_extendedprice double",
    )
    part = view._partial(delta)
    assert part.columns == [
        "l_returnflag", "sum_qty",
        "p50_price__hist", "p90_price__hist", "__mv_key",
    ]
    rows = {r["l_returnflag"]: r for r in part.collect()}
    assert rows["A"]["p50_price__hist"] == [0] * 10  # all-NULL group
    assert rows["B"]["p50_price__hist"] == [1, 0, 0, 0, 0, 0, 0, 0, 0, 0]
    assert rows["B"]["p50_price__hist"] == rows["B"]["p90_price__hist"]


def test_assert_multiset_equal_one_action(spark):
    """The unioned fold==scan check (r14 opt): passes on equal
    multisets INCLUDING duplicate rows, raises on any divergence in
    either direction — the exact semantics of the two-exceptAll form
    it replaced."""
    from crest_spark.operators.matview_query import _assert_multiset_equal

    a = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "y")], "k int, v string"
    )
    same = spark.createDataFrame(
        [(2, "y"), (1, "x"), (1, "x")], "k int, v string"
    )
    _assert_multiset_equal(a, same, "equal multisets must pass")

    # multiplicity matters: {1x,1x,2y} != {1x,2y,2y}
    diff_mult = spark.createDataFrame(
        [(1, "x"), (2, "y"), (2, "y")], "k int, v string"
    )
    with pytest.raises(AssertionError, match="boom"):
        _assert_multiset_equal(a, diff_mult, "boom")

    # one-sided extras in EITHER direction are caught
    extra = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "y"), (3, "z")], "k int, v string"
    )
    with pytest.raises(AssertionError, match="boom"):
        _assert_multiset_equal(a, extra, "boom")
    with pytest.raises(AssertionError, match="boom"):
        _assert_multiset_equal(extra, a, "boom")
