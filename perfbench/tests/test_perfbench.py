"""Tests of the benchmark itself: generator determinism, the arithmetic,
span attribution, the output checks, and a smoke run of each workload.

  python3 -m pytest perfbench/tests

The smoke runs build and launch the program, so they take a few minutes.
"""
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import trace  # noqa: E402
import verify  # noqa: E402


def _files(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


def _corpus(orders=1000):
    """A small corpus in the shape of the program's: `orders` orders with
    4 lineitems each on average (their (l_orderkey, l_linenumber) pairs not
    unique), 2/3 of an event per order and one customer per 10 orders."""
    rng = np.random.default_rng(0)
    n_li, n_ev, n_cust = 4 * orders, 2 * orders // 3, orders // 10

    def ts(n):
        return pa.array(rng.integers(0, 10**15, n), pa.timestamp("us"))

    return {
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, orders), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["O", "F"], orders)),
            "o_totalprice": pa.array(rng.uniform(0, 1e5, orders)),
            "o_orderdate": ts(orders)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, orders, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 3, n_li), pa.int32()),
            "l_quantity": pa.array(rng.uniform(1, 50, n_li)),
            "l_shipdate": ts(n_li)}),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": ts(n_ev),
            "props": pa.array([f"{{\"k\": {i % 97}}}" for i in range(n_ev)])}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_acctbal": pa.array(rng.uniform(-999, 9999, n_cust))}),
    }


def test_same_seed_gives_byte_identical_sources(tmp_path):
    corpus = _corpus()
    a = gen.Sources(7, 300, str(tmp_path / "a"), corpus)
    b = gen.Sources(7, 300, str(tmp_path / "b"), corpus)
    assert a.land_changes() == b.land_changes()
    assert _files(a.root) == _files(b.root)
    c = gen.Sources(8, 300, str(tmp_path / "c"), corpus)
    assert _files(a.root) != _files(c.root)


def test_change_batches_keep_keys_unique_and_watermarks_rising(tmp_path):
    src = gen.Sources(3, 500, str(tmp_path / "s"), _corpus())
    src.land_changes()
    src.land_changes()
    for name, key in gen.KEYS.items():
        keys = src.tables[name].column(key).to_numpy()
        assert len(set(keys)) == len(keys), name
    orders = src.tables["orders"]
    assert orders.num_rows == 500 + 5 + 5
    round2 = orders.column("updated_at").cast("int64").to_numpy() >= (gen.T0 + gen.DAY) * 10**6
    assert round2.sum() == 5 + 5  # updated and new rows of the latest round


def test_sources_are_a_prefix_of_the_corpus_with_a_unique_lineitem_key(tmp_path):
    corpus = _corpus()
    src = gen.Sources(1, 400, str(tmp_path / "s"), corpus)
    t = src.tables
    assert t["orders"].column("o_orderkey").to_pylist() == list(range(400))
    assert t["events"].num_rows == 266 and t["customer"].num_rows == 40
    lineitem = t["lineitem"]
    assert lineitem.drop(["l_id"]).equals(corpus["lineitem"].filter(
        pa.compute.less(corpus["lineitem"].column("l_orderkey"), 400)))
    ids = lineitem.column("l_id").to_numpy()
    assert sorted(ids) == list(range(1, lineitem.num_rows + 1))


def test_median_interpolates_only_between_the_middle_pair():
    assert stats.median([5, 1, 3, 2, 4]) == 3
    assert stats.median([1, 2, 3, 40]) == 2.5
    assert stats.median([]) == 0.0


def test_self_time_subtracts_the_union_of_children():
    children = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.5, 12.0)]
    assert stats.coverage(children, 0.0, 10.0) == pytest.approx(3.0 + 1.0 + 0.5)
    assert stats.self_time(0.0, 10.0, children) == pytest.approx(5.5)
    assert stats.self_time(0.0, 1.0, []) == 1.0


PLAN_CSV_WRITE = ("Execute InsertIntoHadoopFsRelationCommand | Execute "
                  "InsertIntoHadoopFsRelationCommand file:/w/data/orders_data, false, CSV, "
                  "[header=true], Overwrite\nWriteFiles\nScan parquet  | FileScan parquet [a#1]\n")
PLAN_MERGE = ("Execute InsertIntoHadoopFsRelationCommand | Execute "
              "InsertIntoHadoopFsRelationCommand file:/w/wh/orders.parquet.__tmp, false, Parquet, "
              "[path=x], Overwrite\nWriteFiles\nScan parquet  | FileScan parquet [a#1]\n")
PLAN_READ = "HashAggregate\nScan parquet  | FileScan parquet [a#1]\n"


def test_executions_are_charged_by_format():
    assert trace.io_class(PLAN_CSV_WRITE) == "csv_encode"
    assert trace.io_class(PLAN_MERGE) == "parquet_write"
    assert trace.io_class(PLAN_READ) is None
    assert trace.written_format(PLAN_MERGE) == "parquet"


def _records():
    stage = {f: 1 for f in trace.STAGE_FIELDS}
    return [
        {"kind": "app_start", "t": 1_001_000},
        {"kind": "exec", "id": 0, "root": 0, "start": 1_002_000, "end": 1_004_000,
         "nodes": PLAN_CSV_WRITE, "ok": 1},
        {"kind": "job", "id": 0, "exec": 0, "stages": [0], "start": 1_002_500,
         "end": 1_003_500},
        {"kind": "stage", "id": 0, "attempt": 0, "start": 1_002_500, "end": 1_003_500,
         "sums": dict(stage, output_bytes=500, output_records=10, peak_exec_mem=2**20)},
        {"kind": "exec", "id": 1, "root": 1, "start": 1_005_000, "end": 1_006_000,
         "nodes": PLAN_READ, "ok": 1},
        {"kind": "job", "id": 1, "exec": 1, "stages": [1], "start": 1_005_000,
         "end": 1_006_000},
        {"kind": "stage", "id": 1, "attempt": 0, "start": 1_005_000, "end": 1_006_000,
         "sums": dict(stage, peak_exec_mem=0)},
        {"kind": "qe", "t": 1_004_000, "phases_ms": {"analysis": 100, "planning": 50}},
        {"kind": "app_end", "t": 1_007_000,
         "jvm": {"cpu_ns": 3e9, "gc_ms": 10, "jit_ms": 200, "classes": 99}},
    ]


def test_cli_op_breakdown_accounts_for_its_wall_time():
    op = {"start": 1000.0, "end": 1008.0}
    b = trace.breakdown(op, _records(), spawn=1000.0)
    assert b["startup"] == pytest.approx(1.0)
    assert b["child_cover"] + b["self"] == pytest.approx(b["wall"])
    assert b["child_cover"] == pytest.approx(1.0 + 2.0 + 1.0)
    assert b["driver_self"] == pytest.approx(8.0 - 1.0 - 2.0)
    assert b["outside"] == 0
    assert b["io.csv_encode_s"] == pytest.approx(2.0)
    assert b["io.csv_bytes"] == 500 and b["io.csv_rows"] == 10
    assert b["read_exec_s"] == pytest.approx(1.0)
    assert b["spark.plan_s"] == pytest.approx(0.15)
    assert b["spark.tasks"] == 2 and b["spark.peak_exec_mem_mb"] == 1.0
    assert b["jvm.cpu_s"] == 3.0


def test_resident_records_go_to_the_op_running_when_they_start():
    ops = [{"start": 1001.9}, {"start": 1004.5}]
    owned = trace.assign(ops, _records())
    assert [r["kind"] for r in owned[0]] == ["exec", "job", "stage", "qe"]
    assert [r.get("id") for r in owned[1] if r["kind"] == "exec"] == [1]


def _warehouses(src, wh):
    """Both warehouses holding the sources' current tables."""
    import duckdb
    os.makedirs(wh)
    con = duckdb.connect(os.path.join(wh, "duck.db"))
    for name, table in src.tables.items():
        shutil.copytree(os.path.join(src.root, f"{name}.parquet"),
                        os.path.join(wh, f"{name}.parquet"))
        con.register("rows", table)
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM rows")
        con.unregister("rows")
    con.close()


def test_warehouse_check_finds_a_changed_row(tmp_path):
    src = gen.Sources(5, 300, str(tmp_path / "src"), _corpus())
    wh = str(tmp_path / "wh")
    _warehouses(src, wh)
    assert verify.check_warehouses(wh, src.tables) == []
    src.land_changes()
    problems = verify.check_warehouses(wh, src.tables)
    assert any(p.startswith("parquet orders") for p in problems)
    assert any(p.startswith("duckdb lineitem") for p in problems)


def test_query_digest_ignores_row_and_column_order():
    import pandas as pd
    a = pd.DataFrame({"x": [1, 2, 3], "y": ["a", "b", "c"]})
    b = pd.DataFrame({"y": ["c", "a", "b"], "x": [3, 1, 2]})
    assert verify.frame_digest(a) == verify.frame_digest(b)
    assert verify.frame_digest(a) != verify.frame_digest(b.assign(x=[3, 1, 4]))


def test_benchmark_json_names_every_printed_metric():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYERS
    assert [w["name"] for w in spec["workloads"]] == ["etl_incremental", "query_mix"]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench")
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "query_mix",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


needs_program = pytest.mark.skipif(
    not os.path.isfile(os.path.join(os.path.dirname(BENCH), "build.sbt")),
    reason="smoke runs need a checkout of the program")


@needs_program
@pytest.mark.parametrize("workload", ["etl_incremental", "query_mix"])
def test_smoke_run_checks_outputs(workload, capsys, monkeypatch, tmp_path):
    monkeypatch.setattr(run, "RUNS", str(tmp_path))
    monkeypatch.setattr(run, "ETL_ORDERS", 300)
    code = run.main(["--workload", workload, "--seed", "3", "--seconds", "0", "--trace", "0"])
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code == 0 and result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(run.E2E)
    assert all(m["value"] > 0 for m in result["metrics"].values())


@needs_program
def test_traced_run_reports_every_layer_and_accounts_for_wall_time(capsys, monkeypatch,
                                                                   tmp_path):
    monkeypatch.setattr(run, "RUNS", str(tmp_path))
    monkeypatch.setattr(run, "ETL_ORDERS", 300)
    code = run.main(["--workload", "etl_incremental", "--seed", "4", "--seconds", "0",
                     "--trace", "1"])
    metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["metrics"]
    assert code == 0 and set(metrics) == set(run.LAYERS)
    assert metrics["cli.sync_s"]["value"] > 0 and metrics["sync.merge_s"]["value"] > 0
    assert 0 < metrics["trace.child_share"]["value"] <= 1
    assert metrics["trace.outside_s"]["value"] < 0.1
