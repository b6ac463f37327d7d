"""The probe harness, scripts/probe.py: the parent's per-cell ratios, the
write-once fixtures, one in-session family run with its environment
stamp, the family table, and a guard that keeps every probe in it."""

from __future__ import annotations

import ast
import importlib.util
import json
import os
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
SCRIPTS = ROOT / "scripts"

FAMILIES = {
    "scan", "dedup", "corpus", "graph", "analytics", "ann", "dedup_er",
    "join_skew", "pagerank", "twopass", "stream", "smoother",
}
STAMP = {"family", "n", "cell", "cpus", "load1", "steal_pct"}


def _probe():
    spec = importlib.util.spec_from_file_location("probe", SCRIPTS / "probe.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_ratios_per_cell_between_smallest_and_largest_size():
    probe = _probe()
    small = json.loads(
        '{"family": "dedup", "n": 100, "cell": "all", "minhash_s": 2.0,'
        ' "exact_s": 0.5, "minhash_rows": 7, "steal_pct": 3.0}'
    )
    large = json.loads(
        '{"family": "dedup", "n": 400, "cell": "all", "minhash_s": 5.0,'
        ' "exact_s": 2.0, "minhash_rows": 30, "steal_pct": 9.0}'
    )
    # only *_s keys, largest over smallest size, whatever the input order
    assert probe.ratios([large, small]) == {"all": {"minhash_s": 2.5, "exact_s": 4.0}}
    assert probe.ratios([small]) == {}


def test_fixture_is_written_once(spark, tmp_path):
    probe = _probe()
    path = str(tmp_path / "fixture")
    builds = []

    def build():
        builds.append(1)
        return spark.range(5)

    assert probe.fixture(spark, path, build).count() == 5
    marker = os.path.join(path, "_SUCCESS")
    mtime = os.stat(marker).st_mtime_ns
    assert probe.fixture(spark, path, build).count() == 5
    assert os.stat(marker).st_mtime_ns == mtime
    assert len(builds) == 1


def test_replicate_shifts_keys_into_disjoint_copies(spark):
    probe = _probe()
    df = spark.createDataFrame([(1, 5, "a"), (2, 5, "b")], "k long, u long, s string")
    got = {tuple(r) for r in probe.replicate(df, 3, ["k", "u"]).collect()}
    assert got == {
        (k + c * probe.SHIFT, 5 + c * probe.SHIFT, s)
        for k, s in ((1, "a"), (2, "b"))
        for c in range(3)
    }


def test_scan_family_in_session_returns_its_keys_and_env_stamp(spark, monkeypatch, tmp_path):
    probe = _probe()
    monkeypatch.setattr(probe, "BASE", str(tmp_path))
    before = spark.conf.get("spark.sql.shuffle.partitions")
    rec = probe.run_one(spark, "scan", 20_000, "all")
    ops = ("tpch_q1", "group_topk", "window_rank", "distinct_orders")
    assert set(rec) == STAMP | {f"{op}_{k}" for op in ops for k in ("s", "rows")}
    assert (rec["family"], rec["n"], rec["cell"]) == ("scan", 20_000, "all")
    assert [rec[f"{op}_rows"] for op in ops] == [6, 10, 9, 3]
    assert all(rec[f"{op}_s"] > 0 for op in ops)
    assert rec["cpus"] >= 1
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_smoother_family_runs_without_a_session():
    probe = _probe()
    assert not probe.FAMILIES["smoother"].jvm
    rec = probe.run_one(None, "smoother", 40, "holt_winters")
    assert STAMP <= set(rec)
    assert rec["rows"] == 40 * probe.SMOOTHER_STEPS
    assert rec["scalar_s"] > 0 and rec["vector_s"] > 0


def test_list_names_all_twelve_families(capsys):
    probe = _probe()
    assert probe.main(["--list"]) == 0
    listed = {line.split()[0] for line in capsys.readouterr().out.splitlines()}
    assert listed == FAMILIES == set(probe.FAMILIES)


# The scripts the probe families replaced; none may come back.
REPLACED = (
    "scale_probe.py", "scale_probe_dedup.py", "scale_probe_corpus.py",
    "scale_probe_graph.py", "scale_probe_analytics.py", "probe_ann_100x.py",
    "probe_dedup_er_100x.py", "probe_join_skew_100x.py",
    "probe_pagerank_100x.py", "probe_twopass_100x.py",
    "probe_stream_scale.py", "probe_smoother_throughput.py", "gen_plans.py",
)
SUBPROCESS = {
    "subprocess.run", "subprocess.Popen", "subprocess.call",
    "subprocess.check_call", "subprocess.check_output",
}


def _dotted(func) -> str:
    if isinstance(func, ast.Attribute) and isinstance(func.value, ast.Name):
        return f"{func.value.id}.{func.attr}"
    return ""


def test_probes_live_in_one_script():
    """No probe_*.py / scale_probe*.py script besides probe.py, and no
    script but probe.py and bench_isolated.py runs a child in a loop and
    reads its JSON back. bench_compare.py starts children too, but reads
    no JSON inside a loop."""
    names = {p.name for p in SCRIPTS.glob("*.py")}
    strays = {
        n for n in names
        if n.startswith(("probe_", "scale_probe")) or n in REPLACED
    }
    assert not strays
    offenders = []
    for path in sorted(SCRIPTS.glob("*.py")):
        if path.name in ("probe.py", "bench_isolated.py"):
            continue
        for loop in ast.walk(ast.parse(path.read_text())):
            if not isinstance(loop, (ast.For, ast.While)):
                continue
            calls = {_dotted(n.func) for n in ast.walk(loop) if isinstance(n, ast.Call)}
            if calls & SUBPROCESS and "json.loads" in calls:
                offenders.append(f"{path.name}:{loop.lineno}")
    assert not offenders, f"child-JVM loops outside scripts/probe.py: {offenders}"


def test_no_script_puts_a_literal_path_on_sys_path():
    """Scripts derive the repo root from ``__file__``: a literal path in
    ``sys.path`` makes a script run from another checkout import that
    path's code instead of its own."""
    offenders = []
    for path in sorted(SCRIPTS.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("insert", "append")
                and ast.unparse(node.func.value) == "sys.path"
                and any(
                    isinstance(a, ast.Constant) and isinstance(a.value, str)
                    for a in node.args
                )
            ):
                offenders.append(f"{path.name}:{node.lineno}")
    assert not offenders, f"literal sys.path entries: {offenders}"
