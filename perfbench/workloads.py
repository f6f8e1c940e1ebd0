"""The benchmark's workloads: inputs, one timed operation, its check.

Each workload builds the inputs of operation ``i`` from ``(seed, i)``
before the timer starts, runs one operation through the program's
public API inside the timer, then checks the output outside it. Inputs
reach the program only as files: matrices in the reference's row-strip
format, tables as parquet. Nothing an operation persists outlives it.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from perfbench import refformat

# All three matrix workloads share the grid: N=1024 at block 512 and
# leaf 512 is a 2x2 block grid, one recursion level above the leaves.
N = 1024
BLOCK = 512
LEAF = 512
RHS_COLS = 128  # B is N x N/8, the same shape ratio as 2048 x 256

# The 20 non-matrix names of bench.py's HEADLINE, in its order.
SWEEP = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q_distinct_agg", "q_window_rank", "q_events_sessionize",
    "p_dedup_exact", "p_dedup_minhash_lsh", "p_knn_bruteforce",
    "p_text_quality", "p_doc_chunking", "p_embedding_covariance",
    "q_merge_upsert", "q_skyline", "q_window_count_distinct",
    "q_bloom_prefilter_join", "q_ks_2sample", "p_split_leakage_neardup",
    "q_poisson_bootstrap_ci", "p_dsir_select",
]
# the largest scale whose runs fit the run budget (see README.md)
SWEEP_SF = 0.02


def query_layer(name: str) -> str:
    return "pipeline" if name.startswith("p_") else "relational"


def _rng(seed: int, op: int, tag: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, op, tag]))


def _ingest(spark, tracer, path: str, rows: int, cols: int):
    from matrixinversion_spark.matrix.io import read_reference_matrix

    with tracer.span("matrix.io.ingest"):
        m = read_reference_matrix(
            spark, path, block_size=BLOCK, n_rows=rows, n_cols=cols
        ).persist()
        m.df.count()
    return m


class Outcome:
    """What one operation produced, for its check and its metrics."""

    def __init__(self):
        self.ok = True
        self.errors: list[str] = []
        self.residual = 0.0
        self.iterations = 0
        self.bytes_written = 0
        self.query_s: dict[str, float] = {}
        self.attempted = 1
        self.frames: list = []
        self.value = None

    def fail(self, why: str) -> None:
        self.ok = False
        self.errors.append(why)


class _Workload:
    def cleanup(self, inp: dict) -> None:
        """Drop one operation's input and output files."""
        shutil.rmtree(inp["dir"], ignore_errors=True)

    def close(self) -> None:
        pass


class InversePipeline(_Workload):
    """Reference files in, A^-1 as reference files out."""

    name = "inverse_pipeline"

    def prepare(self, spark, seed: int, op: int, work: str) -> dict:
        a = _rng(seed, op, 1).random((N, N))
        d = os.path.join(work, f"op{op}")
        shutil.rmtree(d, ignore_errors=True)
        refformat.write_row_strips(os.path.join(d, "A"), a, BLOCK)
        return {"A": a, "dir": d, "out": os.path.join(d, "out")}

    def run(self, spark, inp: dict, tracer, out: Outcome) -> None:
        from matrixinversion_spark.matrix.inverse import inverse
        from matrixinversion_spark.matrix.io import save_reference_matrix

        a = _ingest(spark, tracer, os.path.join(inp["dir"], "A"), N, N)
        out.frames.append(a)
        with tracer.span("matrix.inverse.call"):
            r = inverse(a, leaf_size=LEAF)
        out.frames.append(r)
        with tracer.span("matrix.io.save"):
            save_reference_matrix(r, inp["out"])

    def check(self, inp: dict, out: Outcome) -> None:
        x, out.bytes_written = refformat.read_matrix(inp["out"], N, N)
        out.residual = float(np.abs(inp["A"] @ x - np.eye(N)).max())

    def flops(self, out: Outcome) -> float:
        return 2.0 * N**3


class LuSolve(_Workload):
    """A X = B through the program's LU, X collected to the driver."""

    name = "lu_solve"

    def prepare(self, spark, seed: int, op: int, work: str) -> dict:
        rng = _rng(seed, op, 2)
        a, b = rng.random((N, N)), rng.random((N, RHS_COLS))
        d = os.path.join(work, f"op{op}")
        shutil.rmtree(d, ignore_errors=True)
        refformat.write_row_strips(os.path.join(d, "A"), a, BLOCK)
        refformat.write_row_strips(os.path.join(d, "B"), b, BLOCK)
        return {"A": a, "B": b, "dir": d}

    def run(self, spark, inp: dict, tracer, out: Outcome) -> None:
        from matrixinversion_spark.matrix.inverse import solve

        a = _ingest(spark, tracer, os.path.join(inp["dir"], "A"), N, N)
        b = _ingest(spark, tracer, os.path.join(inp["dir"], "B"), N, RHS_COLS)
        out.frames += [a, b]
        with tracer.span("matrix.lu.solve_call"):
            x = solve(a, b, leaf_size=LEAF)
        out.frames.append(x)
        with tracer.span("matrix.core.to_numpy"):
            out.value = x.to_numpy()

    def check(self, inp: dict, out: Outcome) -> None:
        out.residual = float(np.abs(inp["A"] @ out.value - inp["B"]).max())

    def flops(self, out: Outcome) -> float:
        return 2.0 / 3.0 * N**3 + 2.0 * N**2 * RHS_COLS


class CgSolve(_Workload):
    """SPD A x = b by the program's conjugate gradients."""

    name = "cg_solve"

    def prepare(self, spark, seed: int, op: int, work: str) -> dict:
        m = _rng(seed, op, 3).random((N, N))
        a = (m + m.T) / 2.0 + N * np.eye(N)
        b = a @ np.ones((N, 1))
        d = os.path.join(work, f"op{op}")
        shutil.rmtree(d, ignore_errors=True)
        refformat.write_row_strips(os.path.join(d, "A"), a, BLOCK)
        refformat.write_row_strips(os.path.join(d, "b"), b, BLOCK)
        return {"A": a, "b": b, "dir": d}

    def run(self, spark, inp: dict, tracer, out: Outcome) -> None:
        from matrixinversion_spark.matrix.cg import cg_solve

        a = _ingest(spark, tracer, os.path.join(inp["dir"], "A"), N, N)
        b = _ingest(spark, tracer, os.path.join(inp["dir"], "b"), N, 1)
        out.frames += [a, b]
        with tracer.span("matrix.cg.call"):
            x, out.iterations, _ = cg_solve(a, b, tol=1e-10)
        with tracer.span("matrix.core.to_numpy"):
            out.value = x.to_numpy()

    def check(self, inp: dict, out: Outcome) -> None:
        out.residual = float(np.abs(inp["A"] @ out.value - inp["b"]).max())

    def flops(self, out: Outcome) -> float:
        return 2.0 * N**2 * out.iterations


class RelationalSweep(_Workload):
    """The 20 relational and pipeline queries, one pass, collected."""

    name = "relational_sweep"

    def __init__(self):
        self._oracle = None
        self._data = None

    def prepare(self, spark, seed: int, op: int, work: str) -> dict:
        from matrixinversion_spark.pipeline.dedup import clear_signature_cache

        if self._data is None:
            from perfbench.tables import write_tables

            self._data = os.path.join(work, "tables")
            write_tables(self._data, seed, SWEEP_SF)
        clear_signature_cache()
        spark.catalog.clearCache()
        return {"dir": self._data}

    def run(self, spark, inp: dict, tracer, out: Outcome) -> None:
        import __spark_entry__ as entry

        qs = entry.queries()
        out.attempted = len(SWEEP)
        out.value = {}
        for name in SWEEP:
            t0 = time.perf_counter()
            try:
                with tracer.span(f"{query_layer(name)}.query", query=name):
                    out.value[name] = qs[name](spark, inp["dir"]).toPandas()
            except Exception as e:  # one query failing must not stop the sweep
                out.fail(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            out.query_s[name] = time.perf_counter() - t0

    def check(self, inp: dict, out: Outcome) -> None:
        """Compare every result the sweep collected with DuckDB; a
        query that raised has no result and is already a failure."""
        import __spark_entry__ as entry
        from perfbench.oracle import Oracle, compare

        if self._oracle is None:
            self._oracle = Oracle(inp["dir"], entry.oracle_sql())
        for name, got in out.value.items():
            try:
                why = compare(got, self._oracle.expected(name))
            except Exception as e:  # an unsortable or odd result is a failure
                why = f"{type(e).__name__}: {e}"
            if why is not None:
                out.fail(f"{name}: {why}")
        out.value = None

    def flops(self, out: Outcome) -> float:
        return 0.0

    def cleanup(self, inp: dict) -> None:
        pass  # the tables serve every sweep of the run

    def close(self) -> None:
        if self._oracle is not None:
            self._oracle.close()


class MatrixPipeline(_Workload):
    """The paper's job, then the two solvers, on one 2x2 block grid.

    One operation runs the three parts back to back, each on its own
    inputs: reference files in, ``inverse()``, reference files out; an
    LU ``solve()`` collected to the driver; a conjugate-gradient solve.
    A part that raises is a failure of the op; the later parts still run.
    """

    name = "matrix_pipeline"
    parts = (InversePipeline(), LuSolve(), CgSolve())

    def prepare(self, spark, seed: int, op: int, work: str) -> dict:
        return {p.name: p.prepare(spark, seed, op, os.path.join(work, p.name))
                for p in self.parts}

    def run(self, spark, inp: dict, tracer, out: Outcome) -> None:
        out.value = {}
        for p in self.parts:
            part = out.value[p.name] = Outcome()
            try:
                with tracer.span(p.name):
                    p.run(spark, inp[p.name], tracer, part)
            except Exception as e:  # the part fails; the op goes on
                part.fail(f"{type(e).__name__}: {str(e)[:300]}")
                out.fail(f"{p.name}: {part.errors[-1]}")
            out.frames += part.frames

    def check(self, inp: dict, out: Outcome) -> None:
        for p in self.parts:
            part = out.value[p.name]
            if not part.ok:
                continue  # raised in run, already counted
            p.check(inp[p.name], part)
            if part.residual > 1e-8 * N:
                out.fail(f"{p.name}: residual {part.residual:.3e} > 1e-8*N")
            out.residual = max(out.residual, part.residual)
        out.iterations = out.value["cg_solve"].iterations
        out.bytes_written = out.value["inverse_pipeline"].bytes_written
        out.value = None

    def flops(self, out: Outcome) -> float:
        return sum(p.flops(out) for p in self.parts)

    def cleanup(self, inp: dict) -> None:
        for p in self.parts:
            p.cleanup(inp[p.name])


WORKLOADS = {w.name: w for w in (MatrixPipeline, RelationalSweep)}
