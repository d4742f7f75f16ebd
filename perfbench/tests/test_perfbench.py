"""Tests of the benchmark itself: its metric record, its generator and
its correctness checks. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from decimal import Decimal

import duckdb
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

NAME_OK = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_.-")


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_declaration(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert set(e2e) == set(run.end_to_end(run.Result(1, 0, [1.0], 1.0, 1.0)))
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for n in names:
        assert len(n) <= 64 and set(n) <= NAME_OK and n[0].isalnum()


def test_metric_record_schema(spec):
    result = run.Result(attempted=3, failed=0, latencies=[0.3, 0.1, 0.2],
                        throughput_per_s=4.0, setup_s=9.5)
    line = run.record(result, trace=False, spec=spec)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["attempted"] == 3 and line["failed"] == 0
    assert set(line["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    assert line["metrics"]["latency_p50_s"] == {"value": 0.2, "unit": "s"}
    json.dumps(line)

    result.layers = {"spark.jobs": 2.0}
    traced = run.record(result, trace=True, spec=spec)
    assert list(traced["metrics"]) == [m["name"] for m in spec["per_layer"]]
    assert traced["metrics"]["spark.jobs"] == {"value": 2.0, "unit": "count"}
    assert traced["metrics"]["serving.render_s"]["value"] == 0.0

    result.layers = {"no.such_metric": 1.0}
    with pytest.raises(KeyError):
        run.record(result, trace=True, spec=spec)
    assert run.record(
        run.Result(1, 1, [1.0], 1.0, 1.0), trace=False, spec=spec
    )["correct"] is False


def _files(seed, tmp):
    masters = gen.write_masters(seed, str(tmp / "m"))
    txg = gen.TransactionGenerator(seed, masters)
    ledgers = [txg.write(i, 400, str(tmp)) for i in range(3)]
    return {p.name: p.read_bytes() for p in sorted(tmp.rglob("*.csv"))}, ledgers


def test_generator_is_deterministic(tmp_path):
    a, led_a = _files(7, tmp_path / "a")
    b, led_b = _files(7, tmp_path / "b")
    c, _ = _files(8, tmp_path / "c")
    assert a == b and led_a == led_b
    assert a != c


def test_generator_dirt_and_ledger(tmp_path):
    files, ledgers = _files(3, tmp_path)
    text = b"".join(files.values()).decode()
    assert files["tx_000001.csv"].startswith(gen.ALIAS_HEADER.encode())
    assert ".0," in text and "  " in text and any(d in text for d in gen.BAD_DATES)
    assert "/" in text and ",," in text
    for f in ledgers:
        assert f.rows == 400 and f.matched <= f.valid <= f.rows
        assert sum(f.per_date.values()) == f.matched
    rows, valid, matched = (
        sum(getattr(f, k) for f in ledgers) for k in ("rows", "valid", "matched"))
    assert matched < valid < rows  # dropped rows and unknown customers both occur


def _fact(tmp_path, n_files=3, rows=300):
    """A fact dir that matches the ledger exactly, and its ledger."""
    masters = gen.write_masters(5, str(tmp_path / "m"))
    txg = gen.TransactionGenerator(5, masters)
    ledgers = [txg.render(i, rows, keep_rows=True)[1] for i in range(n_files)]
    fact = [r for f in ledgers for r in f.fact_rows]
    out = tmp_path / "fact"
    out.mkdir()
    con = duckdb.connect()
    con.execute("CREATE TABLE f (sales_id BIGINT, order_id BIGINT, customer_id BIGINT, "
                "product_id VARCHAR, date_id INT, store_id BIGINT, supplier_id BIGINT, "
                "sales_amount DECIMAL(12,2), quantity INT)")
    con.executemany("INSERT INTO f VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)",
                    [(i + 1, *r) for i, r in enumerate(fact)])
    return con, out, ledgers


def _write(con, out, sql="SELECT * FROM f"):
    for p in out.glob("*.parquet"):
        p.unlink()
    con.execute(f"COPY ({sql}) TO '{out}/part-0.parquet' (FORMAT PARQUET)")


@pytest.mark.parametrize("perturb", [
    "SELECT * FROM f WHERE sales_id <> 17",                                  # lost row
    "SELECT * FROM f UNION ALL SELECT * FROM f WHERE sales_id = 17",         # duplicate
    "SELECT * REPLACE (CASE WHEN sales_id = 5 THEN sales_amount + 0.01 "
    "ELSE sales_amount END AS sales_amount) FROM f",                         # amount
    "SELECT * REPLACE (CASE WHEN sales_id = 5 THEN 20990101 "
    "ELSE date_id END AS date_id) FROM f",                                   # date
    "SELECT * REPLACE (sales_id + 1 AS sales_id) FROM f",                    # id range
])
def test_ingest_check_rejects_perturbed_fact(tmp_path, perturb):
    con, out, ledgers = _fact(tmp_path)
    _write(con, out)
    ok = checks.check_ingest(str(out), ledgers)
    assert ok.failed_files == set() and ok.summary["problems"] == []
    _write(con, out, perturb)
    bad = checks.check_ingest(str(out), ledgers)
    assert bad.failed_files and bad.summary["problems"]


def test_dashboard_check_rejects_perturbed_result(tmp_path):
    from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.plans import (
        serving,
        warehouse_queries as wq,
    )
    import dashboard

    con, out, _ledgers = _fact(tmp_path, n_files=4, rows=500)
    _write(con, out)
    masters = gen.Masters({}, str(tmp_path / "m" / "customers.csv"),
                          str(tmp_path / "m" / "products.csv"))
    oracle = checks.DashboardOracle(masters, str(out))
    try:
        for name in dashboard.op_names(wq, serving):
            rows, cols = oracle.expected(*dashboard.oracle_sql(name, 2018, wq, serving))
            assert checks.same_result(rows, cols, rows, cols)
            if not rows:
                continue
            noisy = [tuple(v + 1e-9 if isinstance(v, float) else v for v in r) for r in rows]
            assert checks.same_result(noisy, cols, rows, cols), name
            assert not checks.same_result(rows[1:], cols, rows, cols), name
            changed = _perturb_first_number(rows)
            if changed is not None:
                assert not checks.same_result(changed, cols, rows, cols), name
    finally:
        oracle.close()


def test_rounding_tolerance_is_one_unit_against_a_double_only():
    cols = ["store_id", "volatility_percent"]
    spark = [(8, Decimal("2534.38"))]
    assert checks.same_result(spark, cols, [(8, 2534.37)], cols)  # DuckDB's double ROUND
    assert not checks.same_result(spark, cols, [(8, 2534.36)], cols)
    assert not checks.same_result(spark, cols, [(8, Decimal("2534.37"))], cols)


def test_top_k_check_accepts_any_tied_row_only():
    cols = ["product_a", "product_b", "times_bought_together"]
    full = [("a", "b", 9), ("a", "c", 7), ("b", "c", 5), ("c", "d", 5), ("d", "e", 1)]
    want, got = full[:3], [*full[:2], full[3]]  # the tie at 5 cut the other way
    key = ("times_bought_together",)
    assert not checks.same_result(got, cols, want, cols)
    assert checks.same_result(got, cols, want, cols, key, (full, cols))
    stranger = [*full[:2], ("x", "y", 5)]  # right key, but not a row of the query
    assert not checks.same_result(stranger, cols, want, cols, key, (full, cols))
    wrong_key = [*full[:2], full[4]]
    assert not checks.same_result(wrong_key, cols, want, cols, key, (full, cols))


def test_per_partition_top_k_check_rejects_a_swapped_label():
    cols = ["city_category", "product_category", "total_revenue", "rn"]
    key = ("product_category", "total_revenue", "rn")
    full = [("A", "X", 30, 1), ("B", "X", 20, 2), ("C", "X", 10, 3)]
    swapped = [("B", "X", 30, 1), ("A", "X", 20, 2), ("C", "X", 10, 3)]
    assert not checks.same_result(swapped, cols, full, cols, key, (full, cols))
    tied = [("A", "X", 30, 1), ("B", "X", 30, 2), ("C", "X", 10, 3)]
    other_pick = [("B", "X", 30, 1), ("A", "X", 30, 2), ("C", "X", 10, 3)]
    assert checks.same_result(other_pick, cols, tied, cols, key, (tied, cols))


def test_every_top_k_op_rejects_a_swapped_label(tmp_path):
    from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.plans import (
        serving,
        warehouse_queries as wq,
    )
    import dashboard

    con, out, _ledgers = _fact(tmp_path, n_files=4, rows=500)
    _write(con, out)
    masters = gen.Masters({}, str(tmp_path / "m" / "customers.csv"),
                          str(tmp_path / "m" / "products.csv"))
    oracle = checks.DashboardOracle(masters, str(out))
    try:
        for name, key in dashboard.TOP_K.items():
            sql, setup = dashboard.oracle_sql(name, 2018, wq, serving)
            rows, cols = oracle.expected(sql, setup)
            superset = oracle.expected(dashboard.uncut(sql), setup)
            assert len(superset[0]) >= len(rows), name
            assert checks.same_result(rows, cols, rows, cols, key, superset), name
            label = next(i for i, c in enumerate(cols) if c.lower() not in key and c != "rn")
            i, j = next((i, j) for i in range(len(rows)) for j in range(i + 1, len(rows))
                        if rows[i][label] != rows[j][label])
            swapped = [list(r) for r in rows]
            swapped[i][label], swapped[j][label] = rows[j][label], rows[i][label]
            swapped = [tuple(r) for r in swapped]
            assert not checks.same_result(swapped, cols, rows, cols, key, superset), name
    finally:
        oracle.close()


def _perturb_first_number(rows):
    first = list(rows[0])
    for i, v in enumerate(first):
        if isinstance(v, (int, float, Decimal)) and not isinstance(v, bool):
            first[i] = v + 1
            return [tuple(first), *rows[1:]]
    return None


def test_percentile_and_union():
    from tracer import union_length, parse_metric

    assert run.percentile(list(range(1, 101)), 50) == 50.5
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2)], 1, 10) == 1
    assert parse_metric("total (min, med, max (stageId: taskId))\n1.3 s (255 ms, ...)") == 1.3
    assert parse_metric("921.0 B") == 921.0 and parse_metric("2.0 KiB") == 2048.0
    assert parse_metric("100,000") == 100000.0
