"""Per-layer metrics of a traced run, named after the program's modules.

Every metric is reported per operation (the sum over the run's
operations divided by their count). A layer a workload does not touch
reports 0, which is the expected reading for that pairing.
"""

from __future__ import annotations

import statistics

from perfbench.trace import parse_event_log, rollup
from perfbench.workloads import SWEEP, MatrixPipeline, query_layer

_SPARK = [
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("task_retries", "count"), ("executor_run_s", "s"),
    ("executor_cpu_s", "s"), ("gc_s", "s"), ("busy_frac", "fraction"),
    ("scan_bytes", "B"), ("shuffle_write_bytes", "B"),
    ("shuffle_read_bytes", "B"), ("shuffle_records", "count"),
    ("fetch_wait_s", "s"), ("spill_bytes", "B"), ("python_udf_s", "s"),
    ("python_bytes_in", "B"), ("python_bytes_out", "B"),
    ("python_init_s", "s"),
]

PER_LAYER: list[tuple[str, str]] = [
    ("session.start_s", "s"), ("session.warmup_s", "s"),
    ("driver.plan_s", "s"), ("driver.gap_s", "s"),
    ("driver.collects", "count"),
    *((f"spark.{k}", u) for k, u in _SPARK),
    ("spark.jvm_peak_rss_mb", "MB"),
    *((f"matrix.part_s.{p.name}", "s") for p in MatrixPipeline.parts),
    ("matrix.io.ingest_s", "s"), ("matrix.io.save_s", "s"),
    ("matrix.io.udf_s", "s"), ("matrix.io.bytes_read", "B"),
    ("matrix.io.bytes_written", "B"),
    ("matrix.inverse.call_s", "s"), ("matrix.inverse.call_jobs", "count"),
    ("matrix.kernels.leaf_udf_s", "s"), ("matrix.kernels.leaf_tasks", "count"),
    ("matrix.kernels.leaf_gflops", "GFLOP/s"),
    ("matrix.ops.gemm_udf_s", "s"), ("matrix.ops.gemm_bytes_in", "B"),
    ("matrix.ops.gemm_tasks", "count"), ("matrix.ops.permute_udf_s", "s"),
    ("matrix.nominal_gflops", "GFLOP/s"),
    ("matrix.lu.solve_call_s", "s"), ("matrix.lu.pivot_collects", "count"),
    ("matrix.core.to_numpy_s", "s"),
    ("matrix.cg.iterations", "count"), ("matrix.cg.s_per_iter", "s"),
    ("matrix.cg.jobs_per_iter", "count"),
    *((f"{query_layer(q)}.query_s.{q}", "s") for q in SWEEP),
    *((f"{query_layer(q)}.jobs.{q}", "count") for q in SWEEP),
    ("sweep.query_p50_s", "s"), ("sweep.query_p90_s", "s"),
    ("baseline.numpy_inv_s", "s"), ("baseline.dgemm_gflops", "GFLOP/s"),
    ("host.loadavg_1m", "load"),
    ("check.residual_max", "abs"), ("check.fail_rate", "fraction"),
    ("trace.op_s", "s"), ("trace.overhead_s", "s"),
]


MATRIX_PARTS = {p.name for p in MatrixPipeline.parts}


def _percentile(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method) of ``values``."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def layer_metrics(wl, ops: list[dict], tracer, event_log: str, ctx: dict,
                  cores: int, *, session_start_s: float, warmup_s: float,
                  residual_max: float, jvm_peak_rss: int, fail_rate: float,
                  untraced_op_s: float) -> dict:
    jobs = parse_event_log(event_log)
    spans = tracer.spans
    n_ops = len(ops)
    v: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}

    def add(name: str, x: float) -> None:
        v[name] += x / n_ops

    for op in ops:
        span = spans[op["span"]]
        r = rollup(jobs, span["start"], span["end"])
        wall = span["end"] - span["start"]
        add("driver.plan_s", r["plan_s"])
        add("driver.gap_s", r["gap_s"])
        add("driver.collects", r["collects"])
        for key, _ in _SPARK:
            if key != "busy_frac":
                add(f"spark.{key}", r[key])
        add("spark.busy_frac", r["executor_run_s"] / (wall * cores))
        add("matrix.io.udf_s", r["udf.io.udf_ms"] / 1e3)
        add("matrix.io.bytes_written", op["bytes_written"])
        add("matrix.kernels.leaf_udf_s", r["udf.leaf.udf_ms"] / 1e3)
        add("matrix.kernels.leaf_tasks", r["udf.leaf.tasks"])
        add("matrix.ops.gemm_udf_s", r["udf.gemm.udf_ms"] / 1e3)
        add("matrix.ops.gemm_bytes_in", r["udf.gemm.bytes_in"])
        add("matrix.ops.gemm_tasks", r["udf.gemm.tasks"])
        add("matrix.ops.permute_udf_s", r["udf.permute.udf_ms"] / 1e3)
        add("matrix.nominal_gflops", op["flops"] / wall / 1e9)
        add("matrix.cg.iterations", op["iterations"])
        add("trace.op_s", wall)
        for child in tracer.descendants(span["id"]):
            c = rollup(jobs, child["start"], child["end"])
            dt = child["end"] - child["start"]
            name = child["name"]
            if name in MATRIX_PARTS:
                add(f"matrix.part_s.{name}", dt)
            elif name == "matrix.io.ingest":
                add("matrix.io.ingest_s", dt)
                add("matrix.io.bytes_read", c["scan_bytes"])
            elif name == "matrix.io.save":
                add("matrix.io.save_s", dt)
            elif name == "matrix.inverse.call":
                add("matrix.inverse.call_s", dt)
                add("matrix.inverse.call_jobs", c["jobs"])
            elif name == "matrix.lu.solve_call":
                add("matrix.lu.solve_call_s", dt)
                add("matrix.lu.pivot_collects", c["pivot_collects"])
            elif name == "matrix.core.to_numpy":
                add("matrix.core.to_numpy_s", dt)
            elif name == "matrix.cg.call" and op["iterations"]:
                add("matrix.cg.s_per_iter", dt / op["iterations"])
                add("matrix.cg.jobs_per_iter", c["jobs"] / op["iterations"])
            elif name.endswith(".query"):
                q = child["query"]
                add(f"{query_layer(q)}.query_s.{q}", dt)
                add(f"{query_layer(q)}.jobs.{q}", c["jobs"])
        if op["query_s"]:
            lat = list(op["query_s"].values())
            add("sweep.query_p50_s", _percentile(lat, 50))
            add("sweep.query_p90_s", _percentile(lat, 90))

    v["session.start_s"] = session_start_s
    v["session.warmup_s"] = warmup_s
    v["spark.jvm_peak_rss_mb"] = jvm_peak_rss / 2**20
    v["matrix.kernels.leaf_gflops"] = ctx["leaf_gflops"]
    v["baseline.numpy_inv_s"] = ctx["numpy_inv_s"]
    v["baseline.dgemm_gflops"] = ctx["dgemm_gflops"]
    v["host.loadavg_1m"] = ctx["loadavg_1m_start"]
    v["check.residual_max"] = residual_max
    v["check.fail_rate"] = fail_rate
    v["trace.overhead_s"] = v["trace.op_s"] - untraced_op_s
    units = dict(PER_LAYER)
    return {name: {"value": v[name], "unit": units[name]} for name, _ in PER_LAYER}
