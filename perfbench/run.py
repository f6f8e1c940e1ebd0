"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The client is this one process: a
closed loop with one operation in flight. It starts a session with the
library's own defaults (``session.get_spark`` with SPARK_GRAFT_CPUS set
to the usable core count), warms the Python workers, then runs
operations back to back until ``--seconds`` have passed, checking each
output outside the timer.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs with
Spark's JSON event log on and spans around every call, and prints the
per-layer metrics, including the tracing overhead on ``op_s`` against
the untraced runs recorded in this checkout for the same source tree
(with none, one untraced run of the same seed is made first, in a child
process, and records one).

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. The exit code is 1 if any
check failed and 2 if the program under test is missing.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"

END_TO_END = {"setup_s": "s", "op_s": "s", "peak_rss_mb": "MB"}


def _args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_s() -> tuple[float, float]:
    """This VM's busy and stolen CPU seconds so far, from /proc/stat."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    user, nice, system, _idle, _iowait, irq, softirq, steal = t
    return (user + nice + system + irq + softirq) / hz, steal / hz


def _git_head() -> str | None:
    if not (ROOT / ".git").exists():
        return None  # an exported checkout carries no history
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() or None


def _source_digest() -> str:
    """Digest of the program and benchmark sources in this checkout, so
    that records made by one version of the code never serve another."""
    h = hashlib.sha256()
    files = [ROOT / "__spark_entry__.py", ROOT / "BENCHMARK.json",
             *(ROOT / "matrixinversion_spark").rglob("*.py"),
             *(ROOT / "perfbench").rglob("*.py")]
    for f in sorted(f for f in files if f.is_file()):
        h.update(str(f.relative_to(ROOT)).encode() + b"\0")
        h.update(f.read_bytes() + b"\0")
    return h.hexdigest()[:16]


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_spark(spark) -> None:
    """Stop the session, end its JVM and every worker it forked, and
    wait until each process has exited."""
    from pyspark import SparkContext

    from perfbench.trace import process_tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spawned = set(process_tree(os.getpid())) - {os.getpid()}
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline and any(_alive(p) for p in spawned):
        time.sleep(0.1)
    for p in spawned:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def _fork_workers(spark) -> None:
    """Fork one Python worker per core and open the Arrow path, so no
    timed operation pays for starting them."""
    spark.range(0, 4096, 1, _cores()).mapInPandas(
        lambda it: it, "id long").write.format("noop").mode("overwrite").save()


def _context(n: int, leaf: int) -> dict:
    """Host probes recorded next to the timings; run after Spark stops."""
    import numpy as np

    from matrixinversion_spark.matrix import kernels

    rng = np.random.default_rng(0)
    x = rng.random((n, n))
    t = time.perf_counter()
    x @ x
    dgemm = 2.0 * n**3 / (time.perf_counter() - t) / 1e9
    t = time.perf_counter()
    np.linalg.inv(x)
    inv_s = time.perf_counter() - t
    leaf_m = rng.random((leaf, leaf))
    t = time.perf_counter()
    packed, _ = kernels.ludcmp(leaf_m)
    lower, upper = kernels.split_lu(packed)
    kernels.inv_lower_unit(lower)
    kernels.inv_upper(upper)
    # LU is 2/3 n^3, each triangular inverse 1/3 n^3
    leaf_gflops = (4.0 / 3.0) * leaf**3 / (time.perf_counter() - t) / 1e9
    return {"dgemm_gflops": dgemm, "numpy_inv_s": inv_s,
            "leaf_gflops": leaf_gflops}


def _untraced_op_s(a: argparse.Namespace) -> float:
    """Untraced ``op_s`` to set a traced run against: the median of the
    correct untraced runs of this workload and length recorded in this
    checkout for the same source tree. Seeds change the inputs but not
    the work, so any seed serves. With no record yet, one untraced run
    of the same seed is made first, in a child process, to record one."""
    d = _record_dir(a)
    if not any(d.glob("*.json")):
        cmd = [sys.executable, str(Path(__file__).resolve()),
               "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", "0"]
        subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=sys.stderr,
                       timeout=170, cwd=str(ROOT))
    recs = [json.loads(p.read_text())["op_s"] for p in d.glob("*.json")]
    if not recs:
        raise RuntimeError(f"no correct untraced run of {a.workload} recorded")
    return statistics.median(recs)


def _record_dir(a: argparse.Namespace) -> Path:
    """Where correct untraced runs of this workload and length, on this
    source tree, record their op_s."""
    return (WORK_ROOT / "untraced" / _source_digest()
            / f"{a.workload}-{a.seconds:g}s")


def main(argv: list[str]) -> int:
    a = _args(argv)
    if not (ROOT / "matrixinversion_spark" / "__init__.py").is_file():
        print(f"perfbench: no matrixinversion_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    untraced = _untraced_op_s(a) if a.trace else None
    t_start = time.perf_counter() if a.trace else _T0
    work = WORK_ROOT / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        return _run(a, work, t_start, untraced)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(a: argparse.Namespace, work: Path, t_start: float,
         untraced: float | None) -> int:
    from perfbench.trace import RssSampler, Tracer
    from perfbench.workloads import BLOCK, LEAF, N, WORKLOADS, Outcome

    rss = RssSampler().start()
    cores = _cores()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # Python workers import the package by name, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(work / "tmp")
    ctx = {"nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": cores,
           "seed": a.seed, "workload": a.workload, "trace": a.trace,
           "loadavg_1m_start": os.getloadavg()[0]}

    from matrixinversion_spark.session import get_spark

    # keep every JVM's files (the launcher's too) inside the checkout:
    # temp files under the work dir, and no hsperfdata file, which
    # HotSpot always puts in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}")))
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
    }
    evdir = work / "eventlog"
    if a.trace:
        evdir.mkdir()
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    tracer = Tracer(enabled=bool(a.trace))
    t = time.perf_counter()
    spark = get_spark(f"perfbench-{a.workload}", extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t
    wl = WORKLOADS[a.workload]()
    ops: list[dict] = []
    attempted = failed = 0
    residual_max = 0.0
    try:
        # no warm-up op: it would cost as much as the op (README.md)
        t = time.perf_counter()
        _fork_workers(spark)
        warmup_s = time.perf_counter() - t
        inp = wl.prepare(spark, a.seed, 0, str(work))
        setup_s = time.perf_counter() - t_start
        t_measure = time.perf_counter()
        while True:
            out = Outcome()
            with tracer.span("op", index=len(ops)) as op_span:
                cpu0 = _cpu_s()
                t = time.perf_counter()
                with rss.timing():
                    try:
                        wl.run(spark, inp, tracer, out)
                    except Exception as e:  # a raising op is counted, not fatal
                        out.fail(f"{type(e).__name__}: {str(e)[:300]}")
                wall = time.perf_counter() - t
                cpu1 = _cpu_s()
            t = time.perf_counter()
            if out.value is not None:  # check whatever the op produced
                try:
                    wl.check(inp, out)
                except Exception as e:  # malformed output fails the check
                    out.fail(f"check: {type(e).__name__}: {str(e)[:300]}")
            for f in out.frames:
                f.release().unpersist()
            check_s = time.perf_counter() - t
            residual_max = max(residual_max, out.residual)
            attempted += out.attempted
            failed += min(out.attempted, len(out.errors))
            for why in out.errors:
                print(f"perfbench: FAILED {a.workload} op {len(ops)}: {why}",
                      file=sys.stderr)
            ops.append({"wall_s": wall, "check_s": check_s,
                        "vm_busy_s": cpu1[0] - cpu0[0],
                        "vm_steal_s": cpu1[1] - cpu0[1],
                        "span": op_span["id"] if op_span else None,
                        "iterations": out.iterations,
                        "bytes_written": out.bytes_written,
                        "query_s": out.query_s, "flops": wl.flops(out),
                        "errors": out.errors})
            wl.cleanup(inp)
            if time.perf_counter() - t_measure >= a.seconds:
                break
            inp = wl.prepare(spark, a.seed, len(ops), str(work))
    finally:
        rss.stop()
        t = time.perf_counter()
        wl.close()
        _stop_spark(spark)
        teardown_s = time.perf_counter() - t

    op_s = statistics.median(o["wall_s"] for o in ops)
    ctx.update(_context(N, LEAF))
    ctx["loadavg_1m_end"] = os.getloadavg()[0]
    ctx["git_head"] = _git_head()
    ctx["source_digest"] = _source_digest()
    ctx["block"], ctx["leaf"], ctx["n"] = BLOCK, LEAF, N

    if a.trace:
        from perfbench.layers import layer_metrics

        logs = sorted(evdir.iterdir())
        metrics = layer_metrics(
            wl, ops, tracer, str(logs[0]), ctx, cores,
            session_start_s=session_start_s, warmup_s=warmup_s,
            residual_max=residual_max, jvm_peak_rss=rss.jvm_peak,
            fail_rate=failed / max(attempted, 1),
            untraced_op_s=untraced,
        )
    else:
        if failed == 0:
            rec = _record_dir(a) / f"{work.name}.json"
            rec.parent.mkdir(parents=True, exist_ok=True)
            rec.write_text(json.dumps({"seed": a.seed, "op_s": op_s}))
        values = {"setup_s": setup_s, "op_s": op_s,
                  "peak_rss_mb": rss.op_peak / 2**20}
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END.items()}

    artifact_dir = WORK_ROOT / "artifacts"
    artifact_dir.mkdir(parents=True, exist_ok=True)
    artifact = {"context": ctx, "ops": ops, "spans": tracer.spans,
                "metrics": metrics, "attempted": attempted, "failed": failed,
                "setup_s": setup_s, "session_start_s": session_start_s,
                "warmup_s": warmup_s, "teardown_s": teardown_s,
                "peak_rss_mb": rss.op_peak / 2**20,
                "run_peak_rss_mb": rss.peak / 2**20,
                "jvm_peak_rss_mb": rss.jvm_peak / 2**20,
                "residual_max": residual_max}
    (artifact_dir / f"{work.name}.json").write_text(json.dumps(artifact, indent=1))

    for name, m in metrics.items():
        print(f"{name:40s} {m['value']:.6g} {m['unit']}")
    ok = failed == 0
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
