"""The benchmark's workloads: which registry entries and model fits a pass
runs, and why each workload is there. See README.md for the layer table."""

from __future__ import annotations

from dataclasses import dataclass

import os

# Data set every workload reads: the repository's fixed sf 0.1 test data
# (seed 42; 600k lineitem rows, 17 MB of parquet), kept byte for byte under
# data/ so a run reads nothing outside its checkout. Read-only.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# Run untimed right after the session starts; part of setup_s.
WARMUP_ENTRY = "ref_q1_avg_price_by_priority"

MODELS = ("linear", "decision_tree", "random_forest")


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    entries: tuple[str, ...]
    models: bool
    # Untimed passes first, in one fixed order: the JVM's JIT compiler
    # spends several CPU seconds per pass for the first few passes, and
    # timing passes on both sides of that drop doubled the spread between
    # runs.
    warmup_passes: int
    # Seconds one warm pass takes on 4 vCPUs; --seconds divided by this
    # (rounded, at least 1) timed passes follow the warm-up.
    nominal_pass_s: float

    def passes(self, seconds: float) -> int:
        return max(1, round(seconds / self.nominal_pass_s))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="interactive",
            why="short scan/aggregate/join queries like the paper's Q1-Q3; "
            "a third of the time is driver-side construction, so sources, "
            "plans and Catalyst show here",
            # Nine entries generate 86 classes, which Spark's codegen cache
            # (100 entries) keeps: later passes compile nothing. With
            # rel_tpch_q3 and rel_tpch_q11 added (118 classes) the cache
            # cycled, every pass recompiled 111 classes, and the passes' CPU
            # time varied by a third between runs.
            entries=(
                "ref_q1_avg_price_by_priority",
                "ref_q2_median_value_by_type",
                "ref_q3_pct_of_total",
                "ref_regexp_extract_ids",
                "ref_age_price",
                "ref_summary_stats",
                "rel_tpch_q1_pricing_summary",
                "rel_tpch_q6_forecast",
                "rel_tpch_q19_disjunctive",
            ),
            models=False,
            warmup_passes=4,
            nominal_pass_s=3.0,
        ),
        Workload(
            name="iterative",
            why="multi-job entries: a mapInPandas text pass, the paper's three "
            "MLlib fits over cached tables and a stateful availableNow "
            "stream; executor, Python-boundary, ML and state-store work "
            "shows here",
            entries=(
                "ext_text_normalize_nfc",
                "ts_stream_dedup",
            ),
            models=True,
            warmup_passes=3,
            nominal_pass_s=6.0,
        ),
    )
}

# The model fits' label is o_totalprice plus this much per order year after
# 1995 and per priority rank (see run.Runner._run_models). Acceptance bands,
# measured on 4 cores: the test split is about a fifth of the 150k orders,
# and a fit that ignores its features has R^2 near 0.
MODEL_LABEL_STEP = 100_000.0
MODEL_TEST_ROWS = (27_000, 33_000)
MODEL_R2 = {"linear": (0.46, 0.53), "decision_tree": (0.69, 0.75), "random_forest": (0.12, 0.20)}
