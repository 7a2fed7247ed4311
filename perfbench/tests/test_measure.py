"""Unit tests of the benchmark's pure helpers (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

import base64
import datetime
import decimal
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import measure  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- percentile rule ----------------------------------------------------------


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert measure.percentile(xs, 50) == 50
    assert measure.percentile(xs, 90) == 90
    assert measure.percentile(xs, 100) == 100
    assert measure.percentile([7.0], 90) == 7.0


def test_percentile_returns_a_sample_and_ignores_order():
    xs = [0.3, 0.1, 0.9, 0.2, 0.5]
    assert measure.percentile(xs, 50) == 0.3
    assert measure.percentile(xs, 90) == 0.9
    assert measure.percentile(xs, 90) in xs


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        measure.percentile([], 50)
    with pytest.raises(ValueError):
        measure.percentile([1.0], 0)


def test_samples_beyond_p90():
    assert measure.samples_beyond(100, 90) == 10
    assert measure.samples_beyond(46, 90) == 4
    assert measure.samples_beyond(0, 90) == 0


# -- steal parser -------------------------------------------------------------

STAT = """cpu  100 20 30 400 5 6 7 8 90 10
cpu0 50 10 15 200 2 3 3 4 45 5
intr 12345
"""


def test_steal_parser_sums_user_through_steal_only():
    total, steal = measure.parse_cpu_jiffies(STAT)
    assert total == 100 + 20 + 30 + 400 + 5 + 6 + 7 + 8  # guest fields excluded
    assert steal == 8


def test_steal_pct_between_readings():
    before = measure.parse_cpu_jiffies(STAT)
    after = measure.parse_cpu_jiffies(STAT.replace(
        "cpu  100 20 30 400 5 6 7 8 90 10", "cpu  180 20 30 400 5 6 7 28 170 10"))
    assert measure.steal_pct(before, after) == pytest.approx(100.0 * 20 / 100)
    assert measure.steal_pct(before, before) == 0.0


def test_steal_parser_rejects_missing_cpu_line():
    with pytest.raises(ValueError):
        measure.parse_cpu_jiffies("intr 1\n")


def test_steal_parser_reads_this_host():
    total, steal = measure.read_cpu_jiffies()
    assert total > 0 and 0 <= steal <= total


# -- LIMIT appender -----------------------------------------------------------


@pytest.mark.parametrize("sql", [
    "SELECT a FROM t ORDER BY a LIMIT 20",
    "SELECT a FROM t ORDER BY a DESC LIMIT 10;",
    "select a from t limit 5 offset 10",
    "SELECT a FROM t LIMIT 10, 20\n",
])
def test_with_limit_keeps_an_existing_limit(sql):
    out = measure.with_limit(sql)
    assert out.upper().count("LIMIT") == 1
    assert out == sql.strip().rstrip(";").rstrip()


@pytest.mark.parametrize("sql", [
    "SELECT a, COUNT(*) FROM t GROUP BY a",
    "SELECT a FROM t;",
    "SELECT * FROM (SELECT a FROM t LIMIT 5) s",
    "SELECT limit_col FROM t",
])
def test_with_limit_appends_when_the_statement_has_none(sql):
    out = measure.with_limit(sql, 100_000)
    assert out.endswith(" LIMIT 100000")
    assert ";" not in out


def test_with_limit_on_the_registry_headline_queries():
    """The two headline queries with their own LIMIT keep it."""
    sys.path.insert(0, ROOT)
    from hurricanedb_spark.queries import all_queries

    bench = {name: qd.oracle for name, qd in all_queries().items() if qd.bench}
    for name in ("q_selection_orderby", "q_shipping_priority"):
        assert measure.with_limit(bench.pop(name)).upper().count("LIMIT") == 1
    for name, sql in bench.items():
        assert measure.with_limit(sql).endswith(" LIMIT 100000"), name


# -- cell normalizer ----------------------------------------------------------


def test_broker_cell_date_timestamp_decimal_bytes():
    assert measure.broker_cell(datetime.date(1996, 12, 1)) == "1996-12-01"
    assert measure.broker_cell(datetime.datetime(1996, 12, 1, 8, 5, 3)) == "1996-12-01 08:05:03"
    assert measure.broker_cell(decimal.Decimal("12.3400")) == "12.3400"
    raw = b"\x00\xffsketch"
    assert measure.broker_cell(raw) == base64.b64encode(raw).decode()
    assert measure.broker_cell(bytearray(raw)) == base64.b64encode(raw).decode()
    assert measure.broker_cell([decimal.Decimal("1.5"), None]) == ["1.5", None]
    assert measure.broker_cell(3.25) == 3.25


def test_broker_cell_matches_the_broker_for_the_types_it_renders():
    """Timestamps, decimals and bytes render exactly as sql/server.py does."""
    sys.path.insert(0, ROOT)
    from hurricanedb_spark.sql.server import _json_cell

    for v in (datetime.datetime(2024, 1, 1, 0, 0, 7, 179575),
              decimal.Decimal("-0.0100"), b"\x01\x02", [b"\x03"], 7, "x"):
        assert measure.broker_cell(v) == _json_cell(v)


def test_canonical_rows_ignore_order_and_json_roundtrip():
    a = measure.canonical_rows([("b", 2, decimal.Decimal("1.0")), ("a", 1, decimal.Decimal("2.0"))])
    b = measure.canonical_rows([["a", 1, "2.0"], ["b", 2, "1.0"]])
    assert a == b
    assert json.loads(a[0]) == ["a", 1, "2.0"]


def test_same_answer_tolerates_last_digit_float_differences_only():
    want = measure.canonical_rows([["x", 0.1 + 0.2]])
    assert measure.same_answer(measure.canonical_rows([["x", 0.3]]), want)
    assert not measure.same_answer(measure.canonical_rows([["x", 0.31]]), want)
    assert not measure.same_answer(measure.canonical_rows([["y", 0.3]]), want)
    assert not measure.same_answer([], want)


def test_benchmark_json_names_every_metric_the_runner_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"] for m in spec["end_to_end"]}
    assert {"setup_s", "qps", "latency_p50_ms", "latency_p90_ms", "pass_s",
            "peak_rss_mb"} == e2e
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_benchmark_json_names_the_operator_metrics_of_every_pipeline_query():
    from workloads import DATAPIPE_QUERIES

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        per_layer = {m["name"] for m in json.load(f)["per_layer"]}
    for q in DATAPIPE_QUERIES:
        for suffix in ("_s", "_jobs", "_shuffle_write_bytes"):
            assert f"operators.{q}{suffix}" in per_layer


def test_closed_loop_refuses_a_client_without_requests():
    """A client with an empty mix would never reach a request and so
    never see the deadline."""
    import harness

    with pytest.raises(ValueError):
        harness.closed_loop(0, [[]], 0.0, seed=1)


def test_least_stolen_keeps_every_quiet_pass():
    assert measure.least_stolen([0.0, 2.0, 9.0, 0.5], 2.0) == [0, 1, 3]
    assert measure.least_stolen([0.0, 0.0], 2.0) == [0, 1]


def test_least_stolen_falls_back_to_the_least_stolen_half():
    assert measure.least_stolen([12.0, 3.0, 15.0, 0.0, 8.0], 2.0) == [1, 3, 4]
    assert measure.least_stolen([5.0, 4.0, 6.0, 7.0], 2.0) == [0, 1]
    assert measure.least_stolen([], 2.0) == []
