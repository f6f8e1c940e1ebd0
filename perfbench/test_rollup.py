"""Tests of the benchmark's own tooling (no Spark needed).

Run with ``python -m pytest perfbench -q`` from the checkout root.
The event log below is a hand-trimmed Spark 4 log: the same event and
field names Spark writes, with only the fields the roll-up reads.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pytest

from perfbench import refformat
from perfbench.layers import PER_LAYER
from perfbench.trace import classify_udf, parse_event_log, rollup

_PY = ["time to run Python workers", "data sent to Python workers",
       "data returned from Python workers", "time to initialize Python workers"]


def _node(name: str, simple: str, first_acc: int, children=()) -> dict:
    return {
        "nodeName": name, "simpleString": simple,
        "children": list(children),
        "metrics": [{"name": m, "accumulatorId": first_acc + i,
                     "metricType": "sum"} for i, m in enumerate(_PY)],
    }


def _task(stage: int, accs: dict[int, int], run_ms: int, attempt: int = 0,
          shuffle_write: int = 0) -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {
            "Attempt": attempt, "Failed": False, "Killed": False,
            "Accumulables": [{"ID": k, "Name": "x", "Update": str(v),
                              "Value": str(v), "Metadata": "sql"}
                             for k, v in accs.items()],
        },
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
            "JVM GC Time": 1, "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": 100},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": 5,
                                     "Fetch Wait Time": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write,
                                      "Shuffle Records Written": 1},
        },
    }


def _job(jid: int, stages: list[int], t_ms: int, exec_id: int,
         callsite: str = "") -> list[dict]:
    props = {"spark.sql.execution.id": str(exec_id),
             "spark.sql.execution.root.id": str(exec_id),
             "callSite.short": callsite}
    return [{"Event": "SparkListenerJobStart", "Job ID": jid,
             "Submission Time": t_ms, "Stage IDs": stages,
             "Properties": props}]


def _log(tmp_path: Path) -> str:
    io_assemble = _node(
        "FlatMapGroupsInPandas",
        "FlatMapGroupsInPandas [bi#6, bj#7], assemble(bi#6, bj#7, "
        "row_in_block#8, col_off#9, data#10)#11, [bi#12]", 100)
    perm_assemble = _node(
        "FlatMapGroupsInPandas",
        "FlatMapGroupsInPandas [bi_out#2122, bj#890], assemble(bi#889, "
        "bj#890, rows#891, cols#892, data#893, bi_out#2122)#2124, [bi#2125]",
        200)
    gemm = _node(
        "FlatMapCoGroupsInPandas",
        "FlatMapCoGroupsInPandas [bi#1, bj#2], [bi#3, bj#4], <lambda>(k#5, "
        "bi#1, a_data#6)#7, [bi#8]", 300)
    fac_initial = _node(
        "FlatMapGroupsInPandas",
        "FlatMapGroupsInPandas [_g#336], fac(bi#328, bj#329, data#16, "
        "_g#336)#337, [tag#338]", 400)
    # AQE re-plans the cached leaf: the node that runs has new ids, and
    # Spark logs that plan only after the task that used them ended
    fac_replanned = _node(
        "FlatMapGroupsInPandas",
        "FlatMapGroupsInPandas [_g#336], fac(bi#328, bj#329, data#16, "
        "_g#336)#337, [tag#338]", 500)
    root = {"nodeName": "AdaptiveSparkPlan", "simpleString": "AdaptiveSparkPlan",
            "metrics": [], "children": [io_assemble, perm_assemble, gemm,
                                        fac_initial]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart",
         "executionId": 0, "sparkPlanInfo": root},
        *_job(0, [0, 1], 10_000, 0),
        _task(0, {100: 40, 101: 1000, 102: 900, 103: 5}, run_ms=50,
              shuffle_write=700),
        _task(1, {200: 30, 201: 10}, run_ms=60),
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 10_500},
        *_job(1, [2, 3], 11_000, 1,
              "collect at /src/matrixinversion_spark/matrix/lu.py:172"),
        _task(2, {300: 70, 301: 4096}, run_ms=80),
        _task(3, {500: 90, 501: 64}, run_ms=90, attempt=1),
        {"Event": "SparkListenerJobEnd", "Job ID": 1,
         "Completion Time": 12_000},
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 1,
         "sparkPlanInfo": {"nodeName": "AdaptiveSparkPlan",
                           "simpleString": "AdaptiveSparkPlan", "metrics": [],
                           "children": [fac_replanned]}},
        *_job(2, [4], 20_000, 2, "collect at /src/other.py:1"),
        _task(4, {}, run_ms=5),
        {"Event": "SparkListenerJobEnd", "Job ID": 2,
         "Completion Time": 20_100},
    ]
    path = tmp_path / "local-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(path)


def test_two_assemble_udfs_are_told_apart(tmp_path):
    r = rollup(parse_event_log(_log(tmp_path)), 9.0, 13.0)
    assert r["udf.io.udf_ms"] == 40
    assert r["udf.io.bytes_in"] == 1000
    assert r["udf.permute.udf_ms"] == 30
    assert r["udf.io.tasks"] == 1 and r["udf.permute.tasks"] == 1


def test_aqe_replanned_node_is_attributed(tmp_path):
    r = rollup(parse_event_log(_log(tmp_path)), 9.0, 13.0)
    assert r["udf.leaf.udf_ms"] == 90
    assert r["udf.leaf.tasks"] == 1
    assert r["udf.gemm.udf_ms"] == 70
    assert r["udf.gemm.bytes_in"] == 4096
    assert r["udf.other.udf_ms"] == 0


def test_window_counters_and_driver_timing(tmp_path):
    jobs = parse_event_log(_log(tmp_path))
    r = rollup(jobs, 9.0, 13.0)
    assert (r["jobs"], r["stages"], r["tasks"]) == (2, 4, 4)
    assert r["task_retries"] == 1
    assert r["executor_run_s"] == pytest.approx(0.28)
    assert r["shuffle_write_bytes"] == 700
    assert r["scan_bytes"] == 400
    assert r["collects"] == 2 and r["pivot_collects"] == 1
    assert r["plan_s"] == pytest.approx(1.0)
    # jobs ran 10.0-10.5 and 11.0-12.0 inside a 4 s window
    assert r["gap_s"] == pytest.approx(2.5)
    later = rollup(jobs, 19.0, 21.0)
    assert later["jobs"] == 1 and later["pivot_collects"] == 0


def test_classify_ignores_jvm_nodes():
    assert classify_udf("Exchange", "Exchange hashpartitioning(bi#6, 8)") is None
    assert classify_udf("MapInPandas", "MapInPandas to_pieces(content#3)#5") == "io"
    assert classify_udf("MapInPandas", "MapInPandas write(bi#1)#2") == "io"


def test_reference_codec_round_trip(tmp_path):
    m = np.random.default_rng(3).random((10, 4))
    written = refformat.write_row_strips(str(tmp_path / "m"), m, 4)
    assert sorted(p.name for p in (tmp_path / "m").iterdir()) == ["A.0", "A.1", "A.2"]
    back, read = refformat.read_matrix(str(tmp_path / "m"), 10, 4)
    assert read == written == 3 * 16 + 10 * (4 + 4 * 8)
    np.testing.assert_array_equal(back, m)


def test_reference_codec_places_rows_by_row_number(tmp_path):
    import struct

    rows = np.array([[1.0, 2.0], [3.0, 4.0]])
    rec = np.dtype([("row", ">i4"), ("vals", ">f8", (2,))])
    body = np.empty(2, dtype=rec)
    body["row"] = [3, 1]  # pivot-permuted rows, as the program may write
    body["vals"] = rows
    (tmp_path / "A.0").write_bytes(struct.pack(">4i", 2, 4, 0, 2) + body.tobytes())
    back, _ = refformat.read_matrix(str(tmp_path), 4, 2)
    np.testing.assert_array_equal(back[3], [1.0, 2.0])
    np.testing.assert_array_equal(back[1], [3.0, 4.0])
    (tmp_path / "A.0").write_bytes(struct.pack(">4i", 0, 4, 0, 2))
    with pytest.raises(ValueError, match="size disagrees"):
        refformat.read_matrix(str(tmp_path), 4, 2)


def test_benchmark_json_names_every_metric():
    from perfbench.run import END_TO_END
    from perfbench.workloads import WORKLOADS

    spec = json.loads((Path(__file__).parent.parent / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == PER_LAYER


def _orders_view(con, path: str) -> None:
    con.execute(f"CREATE OR REPLACE VIEW orders AS SELECT * FROM '{path}'")


def test_skyline_sql_matches_the_oracle_twin(tmp_path):
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from perfbench.oracle import SKYLINE_SQL, compare
    from perfbench.tables import build_tables

    twin = entry.oracle_sql()["q_skyline"]
    day = np.datetime64("2000-01-01", "us")
    # ties on price, on date, and on both
    ties = pa.table({
        "o_orderkey": pa.array(np.arange(7), pa.int64()),
        "o_totalprice": [5.0, 5.0, 5.0, 4.0, 6.0, 6.0, 1.0],
        "o_orderdate": day + np.array([3, 3, 1, 9, 2, 1, 9]) * 86_400_000_000,
    })
    tables = {"ties": ties, "generated": build_tables(4, 0.003)["orders"]}
    con = duckdb.connect()
    for name, table in tables.items():
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(table, path)
        _orders_view(con, path)
        want = con.execute(twin).df()
        assert len(want) > 1
        assert compare(con.execute(SKYLINE_SQL).df(), want) is None, name
    con.close()


def test_rss_sampler_op_peak_covers_only_timed_blocks():
    from perfbench.trace import RssSampler

    rss = RssSampler(interval_s=0.01).start()
    try:
        assert rss.op_peak == 0
        with rss.timing():
            pass
        assert 0 < rss.op_peak <= rss.peak
    finally:
        rss.stop()
