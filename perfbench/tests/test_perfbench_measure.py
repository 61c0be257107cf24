"""Spark-free unit tests for the benchmark's measurement helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import fixture  # noqa: E402
import measure  # noqa: E402
import workloads  # noqa: E402
from measure import Span  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402


# -- percentiles and the sample-count rule ---------------------------------

def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert measure.percentile(xs, 0.5) == 3.0
    assert measure.percentile(xs, 0.9) == pytest.approx(4.6)
    assert measure.percentile([7.0], 0.9) == 7.0
    with pytest.raises(ValueError):
        measure.percentile([], 0.5)


@pytest.mark.parametrize("q", [0.5, 0.9, 0.99])
def test_samples_beyond_counts_values_above_the_percentile(q):
    for n in range(1, 150):
        xs = [float(i) for i in range(n)]
        p = measure.percentile(xs, q)
        assert measure.samples_beyond(n, q) == sum(x > p for x in xs), n


def test_ten_beyond_p90_needs_92_samples():
    # a percentile is well supported with ten samples above it
    assert measure.samples_beyond(92, 0.9) == 10
    assert measure.samples_beyond(91, 0.9) == 9
    assert measure.samples_beyond(26, 0.9) == 3   # sql_interactive's window
    assert measure.samples_beyond(14, 0.9) == 2   # corpus_batch's window


def test_quartiles_and_spread_match_statistics():
    vals = [10.0, 11.0, 12.0, 13.0, 30.0]
    q1, med, q3 = measure.quartiles(vals)
    assert med == 12.0
    assert measure.spread(vals) == pytest.approx((q3 - q1) / 12.0)
    assert measure.spread([4.0, 4.0, 4.0]) == 0.0


# -- span self time ---------------------------------------------------------

def _span(name, start, end, sid, parent=None):
    return Span(name, start, end, sid, parent, 0)


def test_self_time_subtracts_direct_children_once():
    spans = [
        _span("query", 0.0, 10.0, 0),
        _span("build", 1.0, 4.0, 1, parent=0),
        _span("exec", 3.0, 8.0, 2, parent=0),  # overlaps build by 1 s
        _span("table", 1.5, 2.5, 3, parent=1),
    ]
    st = measure.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 7.0)  # children cover [1, 8]
    assert st[1] == pytest.approx(3.0 - 1.0)   # grandchild only counts once, here
    assert st[2] == pytest.approx(5.0)
    assert st[3] == pytest.approx(1.0)


def test_self_time_clips_children_to_the_parent():
    spans = [_span("p", 0.0, 2.0, 0), _span("c", 1.0, 5.0, 1, parent=0)]
    assert measure.self_times(spans)[0] == pytest.approx(1.0)


# -- scratch accounting -----------------------------------------------------

def test_scratch_usage_splits_cache_from_leaks(tmp_path):
    cache = tmp_path / measure.CACHE_DIR / "sf0.1-abcd"
    cache.mkdir(parents=True)
    (cache / "landing.parquet").write_bytes(os.urandom(64 * 1024))
    leak = tmp_path / "sdp_sink_autoincrement_x1"
    leak.mkdir()
    (leak / "part-0.parquet").write_bytes(os.urandom(128 * 1024))
    u = measure.scratch_usage(str(tmp_path))
    assert u["dirs_created"] == 2
    assert u["cache_mb"] >= 64 / 1024
    assert u["leaked_mb"] >= 128 / 1024
    assert u["left_mb"] == pytest.approx(u["cache_mb"] + u["leaked_mb"])


def test_empty_scratch_root_is_not_zero(tmp_path):
    u = measure.scratch_usage(str(tmp_path))
    assert u["dirs_created"] == 0
    assert u["cache_mb"] == 0
    assert 0 < u["left_mb"] < 0.1  # the directory's own block


# -- metric names -----------------------------------------------------------

def test_metric_names_are_well_formed():
    measure.check_metric_names(END_TO_END)
    measure.check_metric_names(PER_LAYER)
    assert not set(END_TO_END) & set(PER_LAYER)
    for bad in ("", "a b", "x/y", ".lead", "n" * 65):
        with pytest.raises(ValueError):
            measure.check_metric_names([bad])


def test_benchmark_json_lists_the_metrics_the_runs_print():
    path = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("no BENCHMARK.json beside the benchmark")
    with open(path) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


# -- seeded inputs ----------------------------------------------------------

def test_seed_fixes_order_and_literals():
    assert workloads.pass_order("sql_interactive", 7) == workloads.pass_order("sql_interactive", 7)
    assert workloads.literals(7, 3) == workloads.literals(7, 3)
    assert workloads.literals(7, 3) != workloads.literals(7, 4)  # new text every pass
    mysql, twin = workloads.render("mysql_top_customers", workloads.literals(7, 3))
    assert "{" not in mysql and "{" not in twin


# -- generated fixture ------------------------------------------------------

def _published_types() -> dict[str, dict[str, str]]:
    """{table: {column: type}} from the column tables of FIXTURES.md."""
    path = os.path.join(os.path.dirname(BENCH), "FIXTURES.md")
    if not os.path.exists(path):
        pytest.skip("no FIXTURES.md beside the benchmark")
    out: dict[str, dict[str, str]] = {}
    table = None
    with open(path) as f:
        for line in f:
            if line.startswith("### "):
                table = line.split()[1]
                out[table] = {}
            elif table and line.startswith("| ") and not line.startswith(("| column", "|---")):
                cells = [c.strip() for c in line.strip().strip("|").split("|")]
                out[table][cells[0]] = cells[1]
    return out


def test_fixture_schema_matches_fixtures_md():
    published = _published_types()
    arrow = {"int64": "int64", "int32": "int32", "string": "string", "double": "double",
             # FIXTURES.md says ms / ns; the published parquet files hold micros
             "timestamp[ms]": "timestamp[us]", "timestamp[ns]": "timestamp[us]",
             "list<float> (ArrayType(FloatType))": "list<item: float>"}
    tables = fixture.build_tables(sf=0.001)
    assert set(tables) == set(fixture.TABLES) == set(published)
    for name, t in tables.items():
        got = {f.name: str(f.type) for f in t.schema}
        want = {col: arrow[typ] for col, typ in published[name].items()}
        assert got == want, name
