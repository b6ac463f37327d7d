"""The bench records' steal stamp (bench._cpu_jiffies / _steal_pct), which
bench.py and scripts/bench_isolated.py share."""

from __future__ import annotations

import importlib.util
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]


def _bench(path=ROOT / "bench.py"):
    spec = importlib.util.spec_from_file_location("bench", path)
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


def test_record_stamps_heap_retained_after_last_entry(tmp_path, monkeypatch):
    """bench.main runs one full collection after the last entry and
    stamps the heap still in use into env["jvm_heap_live_mb"] of
    BENCH_DETAIL.json. A stub session stands in for the JVM; the script
    runs from a copy so the record lands in tmp_path."""
    import json
    import shutil
    from types import SimpleNamespace

    shutil.copy(ROOT / "bench.py", tmp_path / "bench.py")
    bench = _bench(tmp_path / "bench.py")
    calls = []

    class MemoryBean:
        def gc(self):
            calls.append("gc")

        def getHeapMemoryUsage(self):
            calls.append("heap")
            return SimpleNamespace(getUsed=lambda: 300 << 20)

    mgmt = SimpleNamespace(getMemoryMXBean=MemoryBean)
    jvm = SimpleNamespace(java=SimpleNamespace(
        lang=SimpleNamespace(management=SimpleNamespace(ManagementFactory=mgmt))
    ))
    spark = SimpleNamespace(sparkContext=SimpleNamespace(_jvm=jvm))
    monkeypatch.setattr(bench, "get_session", lambda **_: spark)
    monkeypatch.setattr(bench, "time_models", lambda *_: {})
    monkeypatch.setattr(bench, "BENCH_QUERIES", ["a", "b"])
    monkeypatch.setattr(
        bench, "time_query", lambda _s, _d, name: calls.append(name) or 0.5
    )
    bench.main()
    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    assert detail["env"]["jvm_heap_live_mb"] == 300.0
    assert calls[-4:] == ["a", "b", "gc", "heap"]
