"""Full matrix inverse and the solvers built on ``lu()``.

Reference analogues: `LUInverse.java` — mappers invert triangular
column strips (O16, `:88-167`), the reducer multiplies U⁻¹·L⁻¹ and
applies the pivot permutation (O17, `:169-389`).

``inverse()`` runs the shared skeleton ``lu.block_lu`` with factors
that arrive inverted and pre-pivoted: each leaf task returns
(J, U⁻¹) with J ≡ L⁻¹·P and P·A = L·U, so A⁻¹ = U⁻¹·J. A level needs
only static block algebra:

    U2 = J1·A2                L2 = A3·U1⁻¹       (solves are multiplies)
    S  = A4 − L2·U2           (the skeleton's Schur gemm, O11)
    U⁻¹ = [[U1⁻¹, −U1⁻¹·U2·U3⁻¹], [0, U3⁻¹]]
    J   = [[J1, 0], [−J3·L2·J1, J3]]

(from L = [[L1,0],[P3·L2,L3]], P = diag(P1,P3): L⁻¹·P =
[[L1⁻¹P1, 0],[−L3⁻¹P3·L2·L1⁻¹P1, L3⁻¹P3]], each block a child's J).
No pivot vector crosses to the driver and no permute stage runs: the
inverse is one lazy plan whose stages overlap by data dependency
alone (the reference likewise applies pivots by index indirection,
`Read_LU.java:66-92`).

``solve()`` and ``determinant()`` use ``lu()`` itself: solve keeps the
triangular substitutions, which are better conditioned than
inverse()·B.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np

from matrixinversion_spark.matrix import kernels
from matrixinversion_spark.matrix.core import BlockMatrixFrame
from matrixinversion_spark.matrix.lu import (
    _checkpoint,
    _lu_kernel,
    _pins,
    _quad,
    auto_leaf,
    block_lu,
    is_leaf,
    leaf_task,
    lu,
    solve_left,
)
from matrixinversion_spark.matrix.ops import gemm, multiply, permute_rows


def _inv_kernel(mat: np.ndarray, floor: float | None) -> tuple:
    """(J, U⁻¹) of a leaf: the pivot folds into L⁻¹'s columns while
    the matrix sits in task memory. P is block-diagonal at leaf
    granularity, so J keeps L⁻¹'s block-lower zero structure, but a
    multi-block leaf's J can be nonzero above its diagonal."""
    perm, lower, upper = _lu_kernel(mat, floor)
    return (kernels.inv_lower_unit(lower)[:, np.argsort(perm)],
            kernels.inv_upper(upper))


def inverse(a: BlockMatrixFrame,
            leaf_size: int | None = None) -> BlockMatrixFrame:
    """A⁻¹ via recursive block LU (the reference's full pipeline:
    partition → LU → triangular inverses → multiply → un-pivot,
    `Inverse.java:28-40`). ``leaf_size=None`` picks ``auto_leaf``.

    Cache lifecycle: every frame the recursion persists (leaf task
    outputs plus the six per-level pins) is tracked on the result's
    ``retained`` list — ``to_numpy`` releases them after the collect,
    and callers materializing another way (parquet write) should call
    ``result.release()``."""
    if leaf_size is None:
        leaf_size = auto_leaf(a.n_rows)
    tracked: list = []

    def leaf(m: BlockMatrixFrame, top: BlockMatrixFrame) -> tuple:
        return (None, *leaf_task(
            m, _inv_kernel, ("full", "upper"), tracked, top
        ))

    def solve(f1: tuple, a2: BlockMatrixFrame, a3: BlockMatrixFrame):
        _, jl1, iu1 = f1
        return multiply(jl1, a2), multiply(a3, iu1)

    def combine(f1: tuple, u2: BlockMatrixFrame, l2: BlockMatrixFrame,
                f3: tuple, pin: Callable) -> tuple:
        (_, jl1, iu1), (_, jl3, iu3) = f1, f3
        jl3, iu3 = pin(jl3), pin(iu3)  # each read by a corner and the union
        cu = gemm(multiply(iu1, u2), iu3, alpha=-1.0)
        cl = gemm(multiply(jl3, l2), jl1, alpha=-1.0)
        return None, _quad(jl1, None, cl, jl3), _quad(iu1, cu, None, iu3)

    _, jl, iu = block_lu(a, leaf_size, leaf, solve, combine, tracked)
    out = multiply(iu, jl)
    out.retained.extend(tracked)
    return out


def solve(a: BlockMatrixFrame, b: BlockMatrixFrame,
          leaf_size: int | None = None) -> BlockMatrixFrame:
    """Solve A·X = B for a general square A (LU + two triangular
    solves — never forms A⁻¹ explicitly; cheaper and better
    conditioned than inverse()·B when B has few columns). Every frame
    persisted on the way is tracked on the result's ``retained``."""
    if a.n_rows != a.n_cols or a.n_cols != b.n_rows:
        raise ValueError(
            f"solve shape mismatch: A is {a.n_rows}x{a.n_cols}, "
            f"B is {b.n_rows}x{b.n_cols}"
        )
    if leaf_size is None:
        leaf_size = auto_leaf(a.n_rows)
    perm, lo, up = lu(a, leaf_size)
    tracked = lo.retained  # the factorization's caches, shared by L and U
    _, pin = _pins(is_leaf(a, leaf_size), tracked)
    lo, up = pin(lo), pin(up)
    y = solve_left(lo, permute_rows(b, perm), leaf_size, True, tracked)
    out = solve_left(up, y, leaf_size, False, tracked)      # U·X = Y
    out.retained.extend(tracked)
    return out


def pinv(a: BlockMatrixFrame,
         leaf_size: int | None = None) -> BlockMatrixFrame:
    """Moore–Penrose pseudo-inverse of a tall full-column-rank A
    (n×m, n ≥ m) via the normal equations: A⁺ = (AᵀA)⁻¹Aᵀ, computed
    as solve(AᵀA, Aᵀ) so the Gram matrix is factored once and never
    explicitly inverted (same reasoning as solve() vs inverse()·B).

    Same-layer extension of the reference pipeline (Inverse.java:28-40
    inverts square matrices only): the Gram multiply is the engine's
    one-shuffle join-SUMMA gemm, the solve reuses the LU machinery,
    and the m×m Gram is the only square work — so the cost scales
    with n only through the two rectangular multiplies. For
    rank-deficient or ill-conditioned A use the SVD route
    (pipeline.similarity randomized SVD); the Gram squares the
    condition number, which is the documented trade for the cheaper
    dataflow."""
    if a.n_rows < a.n_cols:
        raise ValueError(
            f"pinv expects a tall matrix, got {a.n_rows}x{a.n_cols} "
            "(transpose first; pinv(Aᵀ) = pinv(A)ᵀ)"
        )
    from matrixinversion_spark.matrix.ops import transpose

    at = _checkpoint(transpose(a)).persist()
    gram = multiply(at, a)
    res = solve(gram, at, leaf_size)
    res.retained.append(at.df)
    return res


def determinant(a: BlockMatrixFrame,
                leaf_size: int | None = None) -> float:
    """det(A) = sign(P) · Π diag(U) from the LU factors.

    The diagonal product is computed distributed (diagonal blocks
    only — block-coordinate filter prunes everything else); the
    permutation sign is a driver-side cycle count over the pivot
    vector (N ints)."""
    from pyspark.sql import functions as F

    perm, _lo, up = lu(a, leaf_size)
    diag_prod_log = (
        up.df.filter(F.col("bi") == F.col("bj"))
        .select(
            F.aggregate(
                # diagonal entries of a row-major square block
                F.transform(
                    F.sequence(F.lit(0), F.col("rows") - 1),
                    lambda i: F.element_at(
                        "data", i * (F.col("cols") + 1) + 1
                    ),
                ),
                F.struct(
                    F.lit(0.0).alias("logabs"), F.lit(1.0).alias("sgn")
                ),
                lambda acc, x: F.struct(
                    (acc.logabs + F.log(F.abs(x))).alias("logabs"),
                    (acc.sgn * F.signum(x)).alias("sgn"),
                ),
            ).alias("s")
        )
        .agg(
            F.sum("s.logabs").alias("logabs"),
            F.product("s.sgn").alias("sgn"),
        )
        .collect()[0]
    )
    up.release()  # frees the caches L and U share
    # permutation sign: (-1)^(n − number of cycles)
    perm = np.asarray(perm)
    seen = np.zeros(len(perm), dtype=bool)
    cycles = 0
    for i in range(len(perm)):
        if not seen[i]:
            cycles += 1
            j = i
            while not seen[j]:
                seen[j] = True
                j = perm[j]
    psign = -1.0 if (len(perm) - cycles) % 2 else 1.0
    return float(
        psign * diag_prod_log.sgn * np.exp(diag_prod_log.logabs)
    )
