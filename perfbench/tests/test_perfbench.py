"""The benchmark's own tests.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
The last test starts a small Spark session (local[2]) on the benchmark's
data set.
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import measure  # noqa: E402
import run  # noqa: E402
from layers import PER_LAYER_UNITS, parse_sql_metric  # noqa: E402
from oracle import OracleCache, canonical, load, mismatch  # noqa: E402
from workloads import DATA_DIR, MODEL_R2, WORKLOADS  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _fake_samples(n: int) -> list[dict]:
    return [{"name": f"e{i}", "pass": 0, "traced": False, "latency_s": 0.1 * (i + 1),
             "unstolen_s": 0.1 * (i + 1), "error": None} for i in range(n)]


def test_metric_names_match_benchmark_json():
    spec = _benchmark_json()
    passes = [{"pass": 0, "unstolen_s": 1.0, "cpu_s": 2.0}]
    e2e, _ = run.end_to_end(_fake_samples(5), passes, 1.5, 3.0)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == [
        (k, unit) for k, (_, unit) in e2e.items()]
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(PER_LAYER_UNITS.items())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_per_layer_reports_every_metric():
    samples = _fake_samples(2)
    for s in samples:
        s.update(traced=True, build_s=0.05, plan_s=0.01, execute_s=0.04,
                 layers={"plans.build_s": 0.05, "executor.run_s": 1.0,
                         "executor.cpu_s": 0.5}, batch_ms=[])
    metrics, _ = run.per_layer(samples, 1, {"start_s": 1.0, "warmup_s": 2.0})
    assert list(metrics) == list(PER_LAYER_UNITS)
    assert metrics["executor.cpu_frac"][0] == pytest.approx(0.5)


def test_wrong_result_is_caught():
    want = canonical(pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0]}))
    same = pd.DataFrame({"v": [2.0, 0.5, 1.25 + 1e-12], "k": [3, 1, 2]})
    assert mismatch(canonical(same), want) is None
    wrong_value = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.001]})
    missing_row = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    wrong_cols = pd.DataFrame({"k": [1, 2, 3], "w": [0.5, 1.25, 2.0]})
    for got in (wrong_value, missing_row, wrong_cols):
        assert mismatch(canonical(got), want)


def test_wrong_result_counts_as_failed_sample():
    runner = run.Runner.__new__(run.Runner)
    runner.oracles = {"q": canonical(pd.DataFrame({"x": [1, 2]}))}
    good = {"name": "q", "error": None}
    bad = {"name": "q", "error": None}
    runner._pending = [(good, pd.DataFrame({"x": [2, 1]})),
                       (bad, pd.DataFrame({"x": [1, 3]}))]
    runner.check_pending()
    assert good["error"] is None
    assert bad["error"].startswith("oracle mismatch")


def test_model_bands():
    for model, (lo, hi) in MODEL_R2.items():
        assert run._model_band_error(model, {"n": 30_000, "r2": (lo + hi) / 2}) is None
        # A fit that ignores its features explains nothing of the label.
        assert run._model_band_error(model, {"n": 30_000, "r2": 0.0})
        assert run._model_band_error(model, {"n": 30_000, "r2": hi + 0.1})
        assert run._model_band_error(model, {"n": 10, "r2": (lo + hi) / 2})


def test_oracle_cache_is_keyed_by_sql_and_data(tmp_path):
    data = tmp_path / "data"
    data.mkdir()
    pd.DataFrame({"x": [1, 2, 3]}).to_parquet(data / "t.parquet")
    cache = OracleCache(str(data), str(tmp_path / "oracle"), ("t",))
    sum_sql, max_sql = "SELECT sum(x) AS s FROM t", "SELECT max(x) AS s FROM t"
    assert cache.path("q", sum_sql) != cache.path("q", max_sql)
    assert cache.path("q", sum_sql) != cache.path("r", sum_sql)
    assert load(cache.answer("q", sum_sql)) == (["s"], [(6,)])
    assert load(cache.answer("q", max_sql)) == (["s"], [(3,)])
    cache.close()
    pd.DataFrame({"x": [1, 2, 4]}).to_parquet(data / "t.parquet")
    changed = OracleCache(str(data), str(tmp_path / "oracle"), ("t",))
    assert changed.path("q", sum_sql) != cache.path("q", sum_sql)
    assert load(changed.answer("q", sum_sql)) == (["s"], [(7,)])
    changed.close()


@pytest.mark.parametrize("n, rank, percentile, beyond", [
    (100, 89, 89.8, 10),   # 89th of 0..99: ten samples above it
    (41, 30, 75.0, 10),    # the fewest samples that reach the 75th percentile
    (11, 0, 0.0, 10),
    (10, 9, 100.0, 0),     # too few: the maximum, with nothing beyond it
    (1, 0, 100.0, 0),
])
def test_tail_percentile_for_sample_count(n, rank, percentile, beyond):
    values = [float(v) for v in range(n)]
    t = measure.tail(list(reversed(values)))
    assert t == {"value": values[rank], "percentile": percentile,
                 "samples": n, "beyond": beyond}


def test_query_tail_uses_percentile_or_slowest_per_pass():
    passes = [{"pass": p, "unstolen_s": 1.0, "cpu_s": 1.0} for p in range(3)]

    def samples(per_pass):
        return [{"name": f"e{i}", "pass": p, "unstolen_s": float(10 * p + i)}
                for p in range(3) for i in range(per_pass)]

    # 3 x 20 samples: the 75th-or-higher percentile exists (rank 49 of 60).
    many = samples(20)
    metrics, detail = run.end_to_end(many, passes, 1.0, 1.0)
    assert metrics["query_tail_s"][0] == sorted(s["unstolen_s"] for s in many)[49]
    assert detail["query_tail"]["beyond"] == 10
    # 3 x 7 samples: the median over passes of each pass's slowest entry.
    metrics, detail = run.end_to_end(samples(7), passes, 1.0, 1.0)
    assert metrics["query_tail_s"][0] == 16.0
    assert detail["query_tail"]["percentile"] is None


def test_steal_formula_on_fixed_proc_stat_line():
    # user nice system idle iowait irq softirq steal guest guest_nice
    line = "cpu  1000 50 200 5000 100 10 20 300 40 5"
    steal, busy = measure.cpu_jiffies(line)
    # busy = all fields - idle - iowait - guest - guest_nice
    assert (steal, busy) == (300, 6725 - 5000 - 100 - 40 - 5)
    assert measure.steal_pct((0, 0), (steal, busy)) == pytest.approx(100 * 300 / 1580)
    assert measure.steal_pct((5, 10), (5, 10)) == 0.0


def test_wall_times_are_reported_unstolen():
    assert measure.unstolen(2.0, 25.0) == pytest.approx(1.5)
    passes = [{"pass": 0, "unstolen_s": 1.5, "cpu_s": 1.0}]
    samples = [{"name": "e", "pass": 0, "latency_s": 2.0, "unstolen_s": 1.5}]
    metrics, _ = run.end_to_end(samples, passes, 1.0, 1.0)
    assert metrics["wall_s"][0] == metrics["query_gmean_s"][0] == 1.5


def test_query_gmean_is_geometric_mean_of_entry_medians():
    passes = [{"pass": p, "unstolen_s": 1.0} for p in range(3)]
    samples = [{"name": name, "pass": p, "unstolen_s": v}
               for name, vals in (("a", (1.0, 1.0, 9.0)), ("b", (4.0, 5.0, 4.0)))
               for p, v in enumerate(vals)]
    metrics, _ = run.end_to_end(samples, passes, 1.0, 1.0)
    assert metrics["query_gmean_s"][0] == pytest.approx(2.0)


def test_parse_sql_metric():
    assert parse_sql_metric("5,000") == 5000
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n"
                            "1.5 KiB (0.0 B, 1.5 KiB, 1.5 KiB (stage 1.0: task 3))") == 1536


@pytest.fixture(scope="module")
def traced_runner(tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("spark"))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["SPARK_GRAFT_MASTER"] = "local[2]"
    from layers import Tracer
    from pyspark.sql import SparkSession

    if SparkSession.getActiveSession() is not None:
        pytest.skip("needs a session of its own")
    spark, _, _ = run.start_session(tmp, DATA_DIR)
    try:
        yield run.Runner(spark, WORKLOADS["interactive"], {}, DATA_DIR, Tracer(spark))
    finally:
        run.stop_session(spark)


def test_build_plan_execute_add_up_to_latency(traced_runner):
    for name in ("rel_tpch_q3_shipping_priority", "ref_q2_median_value_by_type"):
        traced_runner.run_unit((name,), True, 0)
    for s in traced_runner.samples:
        assert s["error"] is None, s["error"]
        parts = s["build_s"] + s["plan_s"] + s["execute_s"]
        assert parts == pytest.approx(s["latency_s"], rel=0.05)
        assert s["layers"]["executor.stages"] > 0
        assert s["layers"]["sources.load_calls"] > 0
