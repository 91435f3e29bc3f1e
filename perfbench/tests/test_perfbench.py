"""The benchmark's own tests: input determinism, metric names against
BENCHMARK.json, trace arithmetic, CPU accounting, the compare mode, and the
tpch_mix subset's exposure to rounding ties.

    python3 -m pytest perfbench/tests -q

None of these start Spark.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys
import time

import pytest
from decimal import ROUND_HALF_UP, Decimal

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import procstat  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from tracing import Span, self_times, union_length  # noqa: E402


def _spec() -> dict:
    with open(run.BENCHMARK_JSON) as fh:
        return json.load(fh)


def _files(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root)
        for f in fs
    )


def test_inputs_are_byte_identical_for_one_seed(tmp_path):
    a = inputs.generate(7, str(tmp_path / "a"))
    b = inputs.generate(7, str(tmp_path / "b"))
    c = inputs.generate(8, str(tmp_path / "c"))
    names = _files(str(tmp_path / "a"))
    assert names == _files(str(tmp_path / "b")) and len(names) > 10
    for n in names:
        assert filecmp.cmp(tmp_path / "a" / n, tmp_path / "b" / n, shallow=False), n
    lineitem = os.path.join("sf", "lineitem.parquet")
    assert not filecmp.cmp(tmp_path / "a" / lineitem, tmp_path / "c" / lineitem, shallow=False)
    assert a["sf_dir"].startswith(str(tmp_path / "a")) and b["warehouse"].startswith(str(tmp_path / "b"))


def test_corpus_has_seeded_near_duplicates():
    docs = inputs.documents_table(3).column("text").to_pylist()
    assert len(docs) == inputs.N_DOCS
    words = [set(t.split()) for t in docs]
    close = sum(
        1 for i in range(1, len(words))
        if any(len(words[i] & words[j]) / len(words[i] | words[j]) > 0.8 for j in range(i))
    )
    assert close >= inputs.N_DOCS * inputs.NEARDUP_SHARE * 0.5


def test_end_to_end_names_and_units_match_benchmark_json():
    spec = _spec()
    passes = [{"latencies": [0.5, 2.0], "wall_s": 2.6, "cpu_s": 5.0}]
    e2e = run.end_to_end(passes, setup_s=20.0)
    assert sorted(e2e) == sorted(m["name"] for m in spec["end_to_end"])
    assert e2e["ops_per_s"] == pytest.approx(2 / 2.6)
    assert e2e["op_geomean_s"] == pytest.approx(1.0)
    assert e2e["cpu_s_per_op"] == pytest.approx(2.5)
    units = run._units()
    assert units["setup_s"] == "s" and units["ops_per_s"] == "1/s"
    assert units["op_geomean_s"] == "s" and units["cpu_s_per_op"] == "s"
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


class _FakeTracer:
    def __init__(self, spans):
        self.spans = spans
        self.missing = 0


def _traced_pass():
    """One traced pass at fixed times: a query op, a compat read and a
    compat write, each followed by an attribution span, with gaps."""
    counters = dict.fromkeys(run.SPARK_COUNTERS, 1.0)
    spans = [
        Span(0, "v03_agg_q1", "queries", None, 0.0, 1.0, counters={**counters}),
        Span(1, "build", "queries", 0, 0.1, 0.3),
        Span(2, "run", "queries", 0, 0.3, 0.8),
        Span(3, "storage_probe", "trace", 0, 0.8, 0.85),
        Span(4, "release", "cache", 0, 0.85, 0.9),
        Span(5, "attribute", "trace", None, 1.0, 1.2),
        Span(6, "get_orders", "compat", None, 1.25, 1.75,
             counters={**counters, "first_job_offset_s": 0.1}),
        Span(7, "attribute", "trace", None, 1.75, 1.8),
        Span(8, "insert_orders", "compat", None, 1.9, 2.5,
             counters={**counters, "first_job_offset_s": 0.2}),
        Span(9, "attribute", "trace", None, 2.5, 2.6),
    ]
    import pandas as pd

    recs = [
        {"op": "v03_agg_q1", "kind": "query", "layer": "queries", "span": spans[0],
         "result": pd.DataFrame({"x": [1, 2]}), "release_s": 0.05, "released": 2,
         "storage_bytes": 100, "candidates": 10, "verified": 4},
        {"op": "get_orders", "kind": "read", "layer": "compat", "span": spans[6],
         "result": pd.DataFrame({"x": [1, 2, 3]})},
        {"op": "insert_orders", "kind": "write", "layer": "compat", "span": spans[8],
         "result": None, "bytes_written": 500, "table_files": 3, "rows_changed": 5,
         "rows_before": 10, "rows_after": 15, "table_bytes_before": 1000, "table_bytes_after": 1500},
    ]
    return spans, recs, [{"wall_s": 2.7}]


def test_trace_self_times_plus_remainder_equal_the_wall():
    spans, recs, passes = _traced_pass()
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(1.0 - 0.2 - 0.5 - 0.05 - 0.05)
    top = sum(s.wall for s in spans if s.parent is None)
    remainder = passes[0]["wall_s"] - top
    assert sum(selfs.values()) + remainder == pytest.approx(passes[0]["wall_s"])
    layers = run.per_layer(_FakeTracer(spans), recs, passes, 6.0, 100.0, 20.0, 0.1)
    attributed = 0.2 + 0.05 + 0.1
    assert layers["trace.unattributed_s"] * len(recs) == pytest.approx(
        passes[0]["wall_s"] - attributed - (1.0 + 0.5 + 0.6))
    assert layers["queries.self_s"] == pytest.approx(selfs[0])
    assert layers["compat.build_s"] + layers["compat.run_s"] == pytest.approx((0.5 + 0.6) / 2)
    assert layers["mutate.write_amp"] == pytest.approx(500 / (5 * 1000 / 10))
    assert layers["dedup.verify_yield"] == pytest.approx(0.4)


def test_per_layer_names_and_units_match_benchmark_json():
    spans, recs, passes = _traced_pass()
    layers = run.per_layer(_FakeTracer(spans), recs, passes, 6.0, 100.0, 20.0, 0.1)
    spec = _spec()
    assert sorted(layers) == sorted(m["name"] for m in spec["per_layer"])
    for m in spec["per_layer"] + spec["end_to_end"]:
        assert m["better"] in ("lower", "higher")


def test_union_length_merges_overlaps():
    assert union_length([(0, 1), (0.5, 2), (3, 4), (3.5, 3.6)]) == pytest.approx(3.0)
    assert union_length([]) == 0.0


def test_cpu_accounting_counts_a_child_that_exits_in_the_window():
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.6: pass\n"
    before = procstat.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", burn])
    time.sleep(0.2)  # the child is alive at the first look
    mid = procstat.tree_cpu_s()
    assert child.wait(timeout=30) == 0  # exits, and is reaped, inside the window
    after = procstat.tree_cpu_s()
    assert after - before >= 0.55
    assert after >= mid


def test_steal_fraction_reads_proc_stat():
    a = procstat.cpu_times()
    time.sleep(0.05)
    b = procstat.cpu_times()
    assert b[0] >= a[0] and 0.0 <= procstat.steal_fraction(a, b) <= 1.0


def _artifact(workload, seed, value, fp):
    return {
        "workload": workload, "seed": seed, "fingerprint": fp, "steal_fraction": 0.01,
        "end_to_end": {"setup_s": 20.0 * value, "ops_per_s": 1.0 / value,
                       "op_geomean_s": 0.5 * value, "cpu_s_per_op": 2.0 * value},
    }


def _write_set(root, values, fp):
    root.mkdir()
    for i, v in enumerate(values):
        with open(root / f"tpch_mix-seed{i}-trace0-{i}.json", "w") as fh:
            json.dump(_artifact("tpch_mix", i, v, fp), fh)
    return str(root)


def test_compare_agrees_on_like_sets_and_refuses_unlike_hosts(tmp_path, capsys):
    fp = {"nproc": 4}
    a = _write_set(tmp_path / "a", [1.0, 1.01, 0.99, 1.0], fp)
    b = _write_set(tmp_path / "b", [1.0, 1.02, 0.98, 1.01], fp)
    assert run.main(["compare", a, b]) == 0
    slow = _write_set(tmp_path / "slow", [1.5, 1.52, 1.48, 1.5], fp)
    assert run.main(["compare", a, slow]) == 1
    other = _write_set(tmp_path / "other", [1.0, 1.0, 1.0, 1.0], {"nproc": 32})
    assert run.main(["compare", a, other]) == 2
    assert "unlike hosts" in capsys.readouterr().out
    (tmp_path / "empty").mkdir()
    assert run.main(["compare", a, str(tmp_path / "empty")]) == 2
    assert "no untraced run artifacts" in capsys.readouterr().out


def test_compare_is_symmetric_and_a_far_better_set_does_not_agree(tmp_path):
    fp = {"nproc": 4}
    a = _write_set(tmp_path / "a", [1.0, 1.01, 0.99, 1.0], fp)
    fast = _write_set(tmp_path / "fast", [0.6, 0.61, 0.59, 0.6], fp)
    assert run.main(["compare", a, fast]) == 1
    assert run.main(["compare", fast, a]) == 1
    edge = _write_set(tmp_path / "edge", [0.81, 0.82, 0.80, 0.81], fp)
    assert run.main(["compare", a, edge]) == run.main(["compare", edge, a])


def test_compare_checks_the_spread_of_setup_s(tmp_path):
    fp = {"nproc": 4}
    a = _write_set(tmp_path / "a", [1.0, 1.01, 0.99, 1.0], fp)
    b = _write_set(tmp_path / "b", [1.0, 1.01, 0.99, 1.0], fp)
    for i, setup in enumerate([10.0, 30.0, 10.0, 30.0]):
        path = os.path.join(b, f"tpch_mix-seed{i}-trace0-{i}.json")
        with open(path) as fh:
            art = json.load(fh)
        art["end_to_end"]["setup_s"] = setup
        with open(path, "w") as fh:
            json.dump(art, fh)
    assert run.main(["compare", a, b]) == 1


def _round_half_up(x, scale):
    """ROUND as Spark does it on a DOUBLE: half-up on the double's shortest
    decimal form, not on its binary value as DuckDB does."""
    if x is None:
        return None
    return float(Decimal(repr(float(x))).quantize(Decimal(1).scaleb(-scale), ROUND_HALF_UP))


def test_round_half_up_differs_from_duckdb_only_on_a_tie():
    import duckdb

    con = duckdb.connect()
    assert con.execute("SELECT ROUND(81797.915::DOUBLE, 2)").fetchone()[0] == 81797.91
    assert _round_half_up(81797.915, 2) == 81797.92
    assert _round_half_up(81797.914, 2) == 81797.91 and _round_half_up(-2.5, 0) == -3.0
    con.close()


@pytest.mark.parametrize("seed", range(1, 21))
def test_tpch_subset_oracles_do_not_sit_on_a_rounding_tie(seed):
    """Every tpch_mix ORACLE gives the same rows whether its ROUNDs round as
    DuckDB or as Spark does, so a correct Spark result matches the ORACLE.
    v150 (Q9) and v151 (Q10) fail this on some seeds and are left out of
    the subset (see workloads.TPCH_SUBSET)."""
    import re

    import duckdb

    sys.path.insert(0, run.REPO)
    sys.path.insert(0, os.path.join(run.REPO, "tests"))
    import oracle_util
    from flowbyte_spark.queries import ORACLE

    con = duckdb.connect()
    con.create_function("round_half_up", _round_half_up, ["DOUBLE", "INTEGER"], "DOUBLE")
    for name, table in inputs.tpch_tables(seed).items():
        con.register(name, table)
    for q in workloads.TPCH_SUBSET:
        half_up = re.sub(r"\bROUND\(", "round_half_up(", ORACLE[q], flags=re.I)
        assert oracle_util.canon(con.execute(ORACLE[q]).fetchdf()) == oracle_util.canon(
            con.execute(half_up).fetchdf()
        ), f"{q} seed {seed}"
    con.close()
