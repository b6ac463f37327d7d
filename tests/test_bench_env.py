"""The bench records' steal stamp (bench._cpu_jiffies / _steal_pct), which
bench.py and scripts/bench_isolated.py share."""

from __future__ import annotations

import importlib.util
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]


def _bench():
    spec = importlib.util.spec_from_file_location("bench", ROOT / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_steal_share_of_busy_jiffies_on_fixed_proc_stat(tmp_path):
    bench = _bench()
    start = tmp_path / "stat0"
    end = tmp_path / "stat1"
    # user nice system idle iowait irq softirq steal guest guest_nice
    start.write_text("cpu  0 0 0 0 0 0 0 0 0 0\ncpu0 0 0 0 0 0 0 0 0 0 0\n")
    end.write_text(
        "cpu  1000 50 300 5000 200 10 20 400 120 30\n"
        "cpu0 1000 50 300 5000 200 10 20 400 120 30\n"
    )
    # busy = user+nice+system+irq+softirq+steal; idle, iowait and the guest
    # fields (already inside user and nice) are left out.
    assert bench._cpu_jiffies(str(end)) == (400, 1780)
    assert bench._steal_pct(
        bench._cpu_jiffies(str(start)), bench._cpu_jiffies(str(end))
    ) == 22.47
    assert bench._steal_pct(None, bench._cpu_jiffies(str(end))) is None


def test_bench_isolated_shares_bench_helpers():
    spec = importlib.util.spec_from_file_location(
        "bench_isolated", ROOT / "scripts" / "bench_isolated.py"
    )
    iso = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(iso)
    import bench

    assert iso._cpu_jiffies is bench._cpu_jiffies
    assert iso.HEADLINE is bench.HEADLINE
