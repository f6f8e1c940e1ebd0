"""solve()/determinant() numerics + salted-join equivalence +
plan-shape regressions (pushdown, broadcast)."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from matrixinversion_spark.matrix import inverse as invmod
from matrixinversion_spark.matrix.core import BlockMatrixFrame
from matrixinversion_spark.relational.skew import salted_join
from matrixinversion_spark.session import read_table
from tests.conftest import SF_DIR


def test_solve_matches_numpy(spark):
    rng = np.random.default_rng(3)
    a = rng.random((96, 96))
    b = rng.random((96, 40))
    x = invmod.solve(
        BlockMatrixFrame.from_numpy(spark, a, 32),
        BlockMatrixFrame.from_numpy(spark, b, 32),
        leaf_size=32,
    ).to_numpy()
    assert np.abs(a @ x - b).max() < 1e-9


def test_determinant_matches_numpy(spark):
    rng = np.random.default_rng(4)
    for n in (32, 96):
        a = rng.random((n, n))
        got = invmod.determinant(
            BlockMatrixFrame.from_numpy(spark, a, 32), leaf_size=32
        )
        want = float(np.linalg.det(a))
        assert abs(got - want) <= 1e-9 * max(abs(want), 1.0), (n, got, want)


def _frame(spark, a: np.ndarray, bs: int, local: bool):
    bm = BlockMatrixFrame.from_numpy(spark, a, bs)
    if local:
        return bm
    # same blocks without the driver twin: leaves run in executor tasks
    return BlockMatrixFrame(bm.df, bm.n_rows, bm.n_cols, bs)


@pytest.mark.parametrize("local", [False, True])
@pytest.mark.parametrize("defect", ["singular_schur", "duplicate_row"])
def test_singular_input_raises_at_any_leaf_size(spark, defect, local):
    """The pivot floor comes from the input's scale, not a leaf's: a
    Schur-complement leaf of a singular matrix is roundoff-sized, and a
    floor taken from its own max let inverse() return 1e15-sized
    garbage at leaf 64 where leaf 128 raised."""
    rng = np.random.default_rng(11)
    n = 128
    a = rng.random((n, n))
    if defect == "singular_schur":
        # A4 = A3·A1⁻¹·A2: A1 is fine, the Schur complement is zero
        a[64:, 64:] = a[64:, :64] @ np.linalg.solve(a[:64, :64], a[:64, 64:])
    else:
        a[1] = a[0]  # inside A1 at leaf 64
    bm = _frame(spark, a, 32, local)
    b = _frame(spark, rng.random((n, 4)), 32, local)
    for leaf in (64, 128):
        for run in (
            lambda: invmod.inverse(bm, leaf_size=leaf).to_numpy(),
            lambda: invmod.solve(bm, b, leaf_size=leaf).to_numpy(),
            lambda: invmod.determinant(bm, leaf_size=leaf),
        ):
            with pytest.raises(Exception, match="singular leaf"):
                run()


def test_lu_family_releases_every_persisted_frame(spark, monkeypatch):
    """Nothing solve()/determinant() persist outlives the result: leaf
    task outputs, per-level factors and the solvers' halves all reach
    ``retained`` and are unpersisted by to_numpy()/determinant()."""
    persisted = []
    df_cls = type(spark.range(1))
    persist = df_cls.persist

    def recording_persist(self, *args, **kwargs):
        persisted.append(self)
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(df_cls, "persist", recording_persist)
    rng = np.random.default_rng(5)
    n = 128
    a_np, b_np = rng.random((n, n)), rng.random((n, 8))
    # block 16, leaf 32: an 8x8 grid, two recursion levels
    a = _frame(spark, a_np, 16, local=False)
    b = _frame(spark, b_np, 16, local=False)
    x = invmod.solve(a, b, leaf_size=32).to_numpy()
    assert np.abs(a_np @ x - b_np).max() < 1e-9
    det = invmod.determinant(a, leaf_size=32)
    sign, logdet = np.linalg.slogdet(a_np)
    assert np.sign(det) == sign
    assert abs(np.log(abs(det)) - logdet) < 1e-8 * abs(logdet)
    assert persisted, "solve() persisted nothing: the check is vacuous"
    leaked = [d for d in persisted if d.is_cached]
    assert not leaked, f"{len(leaked)} of {len(persisted)} frames still cached"


def test_salted_join_equals_plain(spark):
    o = read_table(spark, SF_DIR, "orders")
    c = read_table(spark, SF_DIR, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = (
        o.join(c, "o_custkey")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("c_mktsegment")
        .collect()
    )
    salted = (
        salted_join(o, c, "o_custkey", n_salts=8)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("c_mktsegment")
        .collect()
    )
    assert salted == plain


def test_salted_join_rejects_outer(spark):
    """right/full outer would replicate unmatched small-side rows once
    per salt (ADVICE r1) — the operator must refuse those modes."""
    import pytest

    o = read_table(spark, SF_DIR, "orders")
    c = read_table(spark, SF_DIR, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    for how in ("right", "full", "outer"):
        with pytest.raises(ValueError, match="inner/left"):
            salted_join(o, c, "o_custkey", how=how)


def test_skew_demo_no_straggler(spark):
    """q_skew_salted_join's physical property: the hot key (≈50% of
    rows) must NOT produce a straggler partition. AQE is disabled so
    partition ids reflect the raw hash shuffle (AQE would coalesce the
    tiny sf0.001 partitions and hide the spread), and broadcast is
    disabled because salting only matters when the other side can't be
    broadcast — a broadcast join has no shuffle to skew."""
    from matrixinversion_spark.relational.skew import (
        _skewed_events,
        salted_join,
    )

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        e = _skewed_events(spark, SF_DIR)
        dim = e.select("skew_key").distinct()
        total = e.count()

        def max_partition_fraction(df):
            parts = (
                df.withColumn("pid", F.spark_partition_id())
                .groupBy("pid")
                .count()
                .collect()
            )
            return max(r["count"] for r in parts) / total

        plain_frac = max_partition_fraction(e.join(dim, "skew_key"))
        salted_frac = max_partition_fraction(
            salted_join(e, dim, "skew_key", n_salts=16)
        )
        # unsalted: the whole hot key lands in one partition
        assert plain_frac >= 0.45, plain_frac
        # salted: shattered across 16 (key, salt) combos
        assert salted_frac <= 0.20, salted_frac
    finally:
        # restore the session's values, not Spark's defaults: a later
        # plan pin depends on the session's 64 MB broadcast threshold
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)


def test_plan_shapes(spark):
    qs = entry_mod.queries()
    q1_plan = qs["q1_pricing_summary"](spark, SF_DIR)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual" in (
        q1_plan
    ), "q1 timestamp filter must push into the parquet scan"

    q5_plan = qs["q5_region_revenue"](spark, SF_DIR)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in q5_plan, "q5 dims must broadcast"

    rng_plan = qs["q_join_range"](spark, SF_DIR)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in rng_plan, (
        "range join must be broadcast-nested-loop, never a cartesian "
        "shuffle"
    )


def test_tpch_wave3_plan_shapes(spark):
    """Wave-3 shuffle budgets: the shapes documented in tpch_final.py
    must hold in the physical plan, not just in the docstring."""
    qs = entry_mod.queries()

    def plan(name):
        return (
            qs[name](spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    # Q2: window-min decorrelation — partsupp groupBy + window
    # repartition only, and never a sort-merge self-join
    q2 = plan("q2_min_cost_supplier")
    assert q2.count("Exchange hashpartitioning") <= 2, q2
    assert "SortMergeJoin" not in q2, "q2 must not self-join eligible"

    # Q9: dims broadcast; the single shuffle is the final aggregation
    # (at sf0.01 orders broadcasts too; at scale it would SMJ — either
    # way the dim joins must not add exchanges)
    q9 = plan("q9_product_profit")
    assert q9.count("Exchange hashpartitioning") <= 2, q9
    assert "BroadcastHashJoin" in q9

    # Q21: the EXISTS/NOT-EXISTS self-joins and the orders join all
    # reuse one orderkey layout — a single exchange feeds semi, anti
    # and inner joins plus the aggregation
    q21 = plan("q21_suppliers_kept_waiting")
    assert q21.count("Exchange hashpartitioning") <= 2, q21


def test_cholesky_distributed_matches_numpy(spark):
    """Distributed blocked Cholesky vs numpy on a seeded SPD matrix:
    the factor is unique (positive diagonal), so blocks must match
    elementwise, and the residual/logdet properties must hold."""
    import numpy as np

    from matrixinversion_spark.matrix import cholesky as cholmod
    from matrixinversion_spark.matrix import ops
    from matrixinversion_spark.matrix.core import BlockMatrixFrame

    rng = np.random.default_rng(7)
    n = 256
    c = rng.uniform(-1.0, 1.0, (n, n))
    a_np = c @ c.T + n * np.eye(n)
    a = BlockMatrixFrame.from_numpy(spark, a_np, 64)
    a.persist()

    lo = cholmod.cholesky(a, leaf_size=64)
    lo_np = lo.to_numpy()
    expect = np.linalg.cholesky(a_np)
    assert np.max(np.abs(lo_np - expect)) < 1e-9, "factor mismatch vs numpy"
    assert np.max(np.abs(np.triu(lo_np, 1))) == 0.0, "L must be lower"

    residual = ops.max_abs_diff(ops.multiply(lo, ops.transpose(lo)), a)
    assert residual < 1e-8 * n

    logdet = cholmod.spd_logdet(a, leaf_size=64)
    sign, expect_ld = np.linalg.slogdet(a_np)
    assert sign == 1.0
    assert abs(logdet - expect_ld) < 1e-6 * abs(expect_ld)


def test_cholesky_rejects_non_spd(spark):
    import numpy as np
    import pytest as _pytest

    from matrixinversion_spark.matrix import cholesky as cholmod
    from matrixinversion_spark.matrix.core import BlockMatrixFrame

    bad = BlockMatrixFrame.from_numpy(
        spark, -np.eye(128), 64
    )
    with _pytest.raises(np.linalg.LinAlgError):
        cholmod.cholesky(bad, leaf_size=64)


def test_round4_plan_shapes(spark):
    """Plan pins for the round-4 operators (PLANS.md claims, held in
    the physical plan rather than prose)."""
    qs = entry_mod.queries()

    def plan(name):
        return (
            qs[name](spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    # MERGE: exactly one join (full outer — can never broadcast), and
    # the change-batch date filter pushed into the orders scan
    mg = plan("q_merge_upsert")
    assert mg.count("SortMergeJoin") == 1, mg
    assert "FullOuter" in mg, mg
    assert "BroadcastHashJoin" not in mg
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual" \
        in mg, "merge source date filter must reach the scan"

    # latest-per-key: one key shuffle + one window pass, no join
    lk = plan("q_latest_per_key")
    assert lk.count("Exchange hashpartitioning") == 1, lk
    assert "Join" not in lk

    # vocab top-k: the sketch is ONE aggregation (partial+final), so
    # a single exchange moves sketch buffers, never the token stream
    vt = plan("p_vocab_topk")
    assert vt.count("Exchange") <= 2, vt  # partial->final agg only

    # line dedup: the md5 window shuffles once; the per-doc rollup
    # re-shuffles on doc_id — exactly two wide exchanges
    dl = plan("p_dedup_lines")
    assert dl.count("Exchange hashpartitioning") <= 2, dl
