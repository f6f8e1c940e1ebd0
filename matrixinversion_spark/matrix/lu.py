"""Recursive block LU: the one recursion behind ``lu()``, ``inverse()``,
``solve()`` and ``determinant()``.

The reference's core algorithm (Xiang/Meng/Aboulnaga, HPDC'14;
`LUDecomposition.java`, `LUInverse.java:88-167`): per level, factor the
top-left quadrant, solve the off-diagonal blocks against that factor,
form the Schur complement, recurse.

    A = [[A1,A2],[A3,A4]]
    F1 = factor(A1)                    (recursion / leaf task, O9+O12)
    U2, L2 = solve(F1; A2, A3)         (triangular solves, O10 mapper)
    F3 = factor(A4 − L2·U2)            (Schur O11 reducer + recursion)
    F  = combine(F1, U2, L2, F3)

``block_lu`` is that skeleton. It owns the leaf test, the split, the
Schur gemm, the per-depth pin policy (``_pins``) and the tracking of
every frame it persists. Its two callers pass three callbacks:

- ``lu()``: a leaf returns (perm, L, U); the solves are the halving
  triangular solves U2 = L1⁻¹·P1·A2 and L2 = A3·U1⁻¹; a level returns
  P = diag(P1,P3), L = [[L1,0],[P3·L2,L3]], U = [[U1,U2],[0,U3]]. Each
  leaf's pivot vector is collected to the driver.
- ``inverse.inverse()``: a leaf returns (J, U⁻¹) with J ≡ L⁻¹·P; the
  solves are multiplies; a level combines with two corner gemms. No
  pivot reaches the driver, so the whole inverse is one lazy plan.

Every leaf kernel (the LU leaf, the inverse leaf, and the triangular
inverse that ends a halving solve) runs through ``leaf_task``: the
leaf's blocks shuffle to ONE executor task, as the reference factors
its leaves in task JVMs, never on a coordinating node.

Spark-first re-expression (SURVEY.md §7): the recursion is driver-side
Python over *logical* BlockMatrixFrame slices (block-coordinate
filters, no partition directory trees, no control files); each level
lowers to a handful of join-shuffle gemms.

Pivoting: textbook abs-max partial pivoting (NOT the reference's
signed-max quirk, `LUDecomposition.java:63`); correctness is asserted
via ‖P·A − L·U‖ and ‖A·A⁻¹ − I‖ residuals, not factor bit-matching.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import replace

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from matrixinversion_spark.matrix import kernels
from matrixinversion_spark.matrix.core import BlockMatrixFrame
from matrixinversion_spark.matrix.ops import gemm, multiply, permute_rows

DEFAULT_LEAF = 1024  # reference runs limit=1000 (`run.csh:13`)
# 128 MB collect; blocked driver ludcmp ~7 s at 4096 — still far
# cheaper than the serial Spark-action chain another recursion level
# would add (measured: see BENCH_NOTES "N=16384").
MAX_AUTO_LEAF = 4096

_BLOCK_COLS = ["bi", "bj", "rows", "cols", "data"]
_TAGGED_SCHEMA = (
    "tag int, bi int, bj int, rows int, cols int, data array<double>"
)


def auto_leaf(n: int) -> int:
    """Adaptive leaf size: ≈n/4 bounds the recursion depth at ~2
    levels while the leaf stays driver-cheap (≤2048² = 32 MB collect,
    ~3 s local factorization). Measured at N=8192: leaf=2048 cut the
    full inverse from 361 s to 162 s on local[32] — every recursion
    level costs a serial chain of Spark actions whose scheduling
    overhead dwarfs the BLAS work it replaces. The reference fixes
    limit=1000 for its N=2048 runs (`run.csh:13`); scaling the leaf
    with N is the Spark-side improvement."""
    return int(min(MAX_AUTO_LEAF, max(DEFAULT_LEAF, n // 4)))


def is_leaf(a: BlockMatrixFrame, leaf_size: int) -> bool:
    """The recursion's base case, for factorizations and solves alike
    (the reference's ``limit``, `LUDecomposition.java:686`)."""
    return a.n_rows <= leaf_size or a.nbi == 1


def _checkpoint(m: BlockMatrixFrame) -> BlockMatrixFrame:
    if m.local is not None:
        # Driver-backed leaf: lineage is one createDataFrame — a
        # checkpoint would only add a materialization job.
        return m
    return BlockMatrixFrame(
        m.df.localCheckpoint(eager=False), m.n_rows, m.n_cols, m.block_size,
        retained=m.retained,  # cache ownership follows the frame
    )


def _pins(child_is_leaf: bool, retained: list):
    """The per-depth lineage policy, returned as ``(ck, pin)``.

    Measured (N=2048/N=4096 A/B): at the LOWEST internal level the
    children are leaf task outputs — already persisted, two-step
    lineage — and localCheckpoint's serialized materialization jobs
    dominate the wall (7.8 -> 4.0 s median at N=2048 without them).
    One level up the opposite holds: without checkpoints the recursive
    plan triples Catalyst analysis time (4.7 -> 12.8 s plan-build at
    N=4096). So ``ck`` is the identity when the children are leaves
    and ``_checkpoint`` above. ``pin`` is ``ck`` plus persist, for a
    frame read twice; it records the persisted frame on ``retained``
    so the caller can release it after the final action."""
    ck = (lambda m: m) if child_is_leaf else _checkpoint

    def pin(m: BlockMatrixFrame) -> BlockMatrixFrame:
        m = ck(m).persist()
        retained.append(m.df)
        return m

    return ck, pin


def _quad(tl: BlockMatrixFrame, tr: BlockMatrixFrame | None = None,
          bl: BlockMatrixFrame | None = None,
          br: BlockMatrixFrame | None = None) -> BlockMatrixFrame:
    """Assemble [[tl, tr], [bl, br]] (None = zero quadrant); ``tl``
    spans whole blocks, so the others shift by its block grid."""
    df = tl.df
    mr, mc = tl.nbi, tl.nbj
    for q, dbi, dbj in ((tr, 0, mc), (bl, mr, 0), (br, mr, mc)):
        if q is not None:
            df = df.unionAll(q.shift(dbi, dbj))
    bottom = bl if bl is not None else br
    right = tr if tr is not None else br
    return BlockMatrixFrame(
        df,
        tl.n_rows + (bottom.n_rows if bottom is not None else 0),
        tl.n_cols + (right.n_cols if right is not None else 0),
        tl.block_size,
    )


def _scale_row(top: BlockMatrixFrame) -> DataFrame:
    """One pseudo-block (bi = -1) holding max|top|. Unioned into a
    leaf's input, the scale reaches the task with its blocks, with no
    driver collect. ``coalesce(1)`` lets the global max run inside the
    leaf's own map stage (one extra task, no exchange, so no extra
    stage or AQE job), and as an aggregate it is sized as one row, so
    the planner's broadcast choices downstream of the leaf stay as
    they are without it."""
    # max|x| as max(|max x|, |min x|): a lambda over every entry
    # (transform + abs) runs interpreted and boxes each value
    max_abs = F.max(F.greatest(F.abs(F.array_max("data")),
                               F.abs(F.array_min("data"))))
    return top.df.coalesce(1).agg(max_abs.alias("m")).select(
        F.lit(-1).alias("bi"), F.lit(-1).alias("bj"),
        F.lit(1).alias("rows"), F.lit(1).alias("cols"),
        F.array("m").alias("data"),
    )


def leaf_task(a: BlockMatrixFrame, kernel: Callable, keeps: tuple,
              retained: list, top: BlockMatrixFrame | None = None
              ) -> list[BlockMatrixFrame]:
    """Run a numpy ``kernel`` on leaf ``a`` assembled as one ndarray.

    ``kernel(mat, floor)`` returns one array per entry of ``keeps``,
    which names the blocks to emit: ``"lower"``/``"upper"`` keep only
    that block triangle (the other is zero), ``"full"`` every block,
    ``"row"`` a 1×n vector (the pivot). ``floor`` is the singular-pivot
    floor of ``top``, the whole matrix being factored, or None without
    ``top``: a Schur-complement leaf's own entries are roundoff-sized
    when the input is singular, so its floor must come from the input.

    Placement follows the frame, not a setting. A leaf with a driver
    twin (``local``, from ``from_numpy``) runs the kernel on the
    driver. Any other leaf's blocks shuffle to ONE executor task: the
    driver roundtrip (leaf-sized collect, core-contended BLAS, one
    createDataFrame per output) took 96.2/106.9 s against the task's
    79.5/96.8 s at N=4096 (BENCH_NOTES round 5). Each output is a
    filter over the tagged task output; with more than one output,
    that is persisted and recorded on ``retained``. A singular leaf
    raises inside the task and surfaces with the same LinAlgError
    message through the Spark job failure."""
    bs, n, m = a.block_size, a.n_rows, a.n_cols
    if a.local is not None:
        floor = None if top is None else kernels.pivot_floor(
            top.n_rows, np.abs(top.local).max()
        )
        spark = a.df.sparkSession
        return [
            BlockMatrixFrame.from_numpy(spark, np.atleast_2d(o), bs)
            for o in kernel(a.local, floor)
        ]
    top_n = None if top is None else top.n_rows

    def fac(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.zeros((n, m))
        top_max = 0.0
        for bi, bj, r, c, d in zip(
            pdf["bi"], pdf["bj"], pdf["rows"], pdf["cols"], pdf["data"]
        ):
            if bi < 0:  # the _scale_row pseudo-block
                top_max = float(d[0])
                continue
            mat[int(bi) * bs:int(bi) * bs + int(r),
                int(bj) * bs:int(bj) * bs + int(c)] = np.asarray(
                    d, dtype=np.float64).reshape(int(r), int(c))
        floor = None if top_n is None else kernels.pivot_floor(top_n, top_max)
        out = []
        for tag, (arr, keep) in enumerate(zip(kernel(mat, floor), keeps)):
            arr = np.atleast_2d(arr)
            for bi in range((arr.shape[0] + bs - 1) // bs):
                for bj in range((arr.shape[1] + bs - 1) // bs):
                    if (keep == "lower" and bj > bi
                            or keep == "upper" and bi > bj):
                        continue  # the zero triangle
                    blk = arr[bi * bs:(bi + 1) * bs, bj * bs:(bj + 1) * bs]
                    out.append((tag, bi, bj, blk.shape[0], blk.shape[1],
                                np.ascontiguousarray(blk, np.float64).ravel()))
        return pd.DataFrame(out, columns=["tag", *_BLOCK_COLS])

    src = a.df if top is None else a.df.unionAll(_scale_row(top))
    # a named constant column, not groupBy(lit(1)) — Spark resolves a
    # bare integer literal in groupBy as a GROUP BY ordinal
    tagged = (
        src.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(fac, _TAGGED_SCHEMA)
    )
    if len(keeps) > 1:  # several filters read it: run the task once
        tagged = tagged.persist()
        retained.append(tagged)
    return [
        BlockMatrixFrame(
            tagged.filter(F.col("tag") == tag).select(*_BLOCK_COLS),
            1 if keep == "row" else n, m, bs,
        )
        for tag, keep in enumerate(keeps)
    ]


def block_lu(a: BlockMatrixFrame, leaf_size: int, leaf: Callable,
             solve: Callable, combine: Callable, retained: list) -> tuple:
    """The one recursive block-LU skeleton (see the module docstring).

    A factor is a tuple ``(perm or None, lower-side frame, upper-side
    frame)``. ``leaf(m, a)`` factors a leaf ``m`` of input ``a``;
    ``solve(f1, a2, a3)`` returns (U2, L2) against the A1 factor;
    ``combine(f1, u2, l2, f3, pin)`` assembles a level's factor,
    pinning the parts of F3 it reads twice. Every pinned frame is
    recorded on ``retained``. Nothing read once is pinned: under AQE a
    pin can cost its own job (pinning lu()'s L3 and U3 added 2 jobs to
    an N=1024 lu())."""

    def rec(m: BlockMatrixFrame) -> tuple:
        if is_leaf(m, leaf_size):
            return leaf(m, a)
        nb = m.nbi
        mb = nb // 2
        m1 = m.slice_blocks(0, mb, 0, mb)
        ck, pin = _pins(is_leaf(m1, leaf_size), retained)
        p1, lo1, up1 = rec(m1)
        f1 = (p1, pin(lo1), pin(up1))
        u2, l2 = solve(
            f1, m.slice_blocks(0, mb, mb, nb), m.slice_blocks(mb, nb, 0, mb)
        )
        u2, l2 = pin(u2), pin(l2)
        s = ck(gemm(l2, u2, c=m.slice_blocks(mb, nb, mb, nb), alpha=-1.0))
        return combine(f1, u2, l2, rec(s), pin)

    return rec(a)


def _lu_kernel(mat: np.ndarray, floor: float | None) -> tuple:
    lu_packed, perm = kernels.ludcmp(mat, floor)
    return (perm, *kernels.split_lu(lu_packed))


def lu(a: BlockMatrixFrame, leaf_size: int | None = None
       ) -> tuple[np.ndarray, BlockMatrixFrame, BlockMatrixFrame]:
    """Factor P·A = L·U. Returns (perm, L unit-lower, U upper) with
    ``A.to_numpy()[perm] == (L·U).to_numpy()`` up to float error.
    ``leaf_size=None`` picks :func:`auto_leaf`.

    L and U share one ``retained`` list holding every frame the
    factorization persisted: ``release()`` on either (or ``to_numpy``)
    frees them all."""
    if a.n_rows != a.n_cols:
        raise ValueError("LU requires a square matrix")
    if leaf_size is None:
        leaf_size = auto_leaf(a.n_rows)
    tracked: list = []

    def leaf(m: BlockMatrixFrame, top: BlockMatrixFrame) -> tuple:
        pf, lo, up = leaf_task(
            m, _lu_kernel, ("row", "lower", "upper"), tracked, top
        )
        if pf.local is not None:
            return pf.local[0].astype(np.int64), lo, up
        # the LU family's one blocking driver transfer: n pivot ints
        rows = sorted(pf.df.collect(), key=lambda r: r["bj"])
        perm = np.concatenate([r["data"] for r in rows])
        return perm.astype(np.int64), lo, up

    def solve(f1: tuple, a2: BlockMatrixFrame, a3: BlockMatrixFrame):
        p1, l1, u1 = f1
        return (
            solve_left(l1, permute_rows(a2, p1), leaf_size, True, tracked),
            solve_upper_right(u1, a3, leaf_size, tracked),
        )

    def combine(f1: tuple, u2: BlockMatrixFrame, l2: BlockMatrixFrame,
                f3: tuple, pin: Callable) -> tuple:
        (p1, l1, u1), (p3, l3, u3) = f1, f3
        return (
            np.concatenate([p1, p3 + l1.n_rows]),
            _quad(l1, None, permute_rows(l2, p3), l3),
            _quad(u1, u2, None, u3),
        )

    perm, lo, up = block_lu(a, leaf_size, leaf, solve, combine, tracked)
    return perm, replace(lo, retained=tracked), replace(up, retained=tracked)


# ---------------------------------------------------------------------------
# Distributed triangular solves (reference O10)
# ---------------------------------------------------------------------------

def solve_left(t: BlockMatrixFrame, b: BlockMatrixFrame,
               leaf_size: int = DEFAULT_LEAF, lower: bool = True,
               retained: list | None = None) -> BlockMatrixFrame:
    """Solve T·X = B for triangular T: unit-lower when ``lower``
    (forward substitution), else upper (back substitution), by
    recursive halving. A leaf is one ``leaf_task`` inverse and a
    multiply. Frames persisted go on ``retained``, by default the
    result's own."""
    tracked = [] if retained is None else retained
    if is_leaf(t, leaf_size):
        tri = "lower" if lower else "upper"
        inv = kernels.inv_lower_unit if lower else kernels.inv_upper
        (t_inv,) = leaf_task(t, lambda m, _f: (inv(m),), (tri,), tracked)
        x = multiply(t_inv, b)
    else:
        nb, mb = t.nbi, t.nbi // 2
        # solve the half whose rows need no other X first
        first, second = ((0, mb), (mb, nb)) if lower else ((mb, nb), (0, mb))
        t_first = t.slice_blocks(*first, *first)
        _, pin = _pins(is_leaf(t_first, leaf_size), tracked)
        x_first = pin(solve_left(
            t_first, b.slice_blocks(*first, 0, b.nbj), leaf_size, lower,
            tracked,
        ))
        x_second = solve_left(
            t.slice_blocks(*second, *second),
            gemm(t.slice_blocks(*second, *first), x_first,
                 c=b.slice_blocks(*second, 0, b.nbj), alpha=-1.0),
            leaf_size, lower, tracked,
        )
        x = (_quad(x_first, None, x_second) if lower
             else _quad(x_second, None, x_first))
    if retained is None:
        x.retained.extend(tracked)
    return x


def solve_lower(lo: BlockMatrixFrame, b: BlockMatrixFrame,
                leaf_size: int = DEFAULT_LEAF) -> BlockMatrixFrame:
    """Solve L·X = B for unit-lower-triangular distributed L."""
    return solve_left(lo, b, leaf_size, True)


def solve_upper_right(up: BlockMatrixFrame, b: BlockMatrixFrame,
                      leaf_size: int = DEFAULT_LEAF,
                      retained: list | None = None) -> BlockMatrixFrame:
    """Solve X·U = B for upper-triangular distributed U (recursive
    halving over columns; see ``solve_left``)."""
    tracked = [] if retained is None else retained
    if is_leaf(up, leaf_size):
        (u_inv,) = leaf_task(
            up, lambda m, _f: (kernels.inv_upper(m),), ("upper",), tracked
        )
        x = multiply(b, u_inv)
    else:
        mb = up.nbi // 2
        ua = up.slice_blocks(0, mb, 0, mb)
        _, pin = _pins(is_leaf(ua, leaf_size), tracked)
        xa = pin(solve_upper_right(
            ua, b.slice_blocks(0, b.nbi, 0, mb), leaf_size, tracked
        ))
        xb = solve_upper_right(
            up.slice_blocks(mb, up.nbi, mb, up.nbj),
            gemm(xa, up.slice_blocks(0, mb, mb, up.nbj),
                 c=b.slice_blocks(0, b.nbi, mb, b.nbj), alpha=-1.0),
            leaf_size, tracked,
        )
        x = _quad(xa, xb)
    if retained is None:
        x.retained.extend(tracked)
    return x
