"""Registry-wide SinglePartition audit (r8 third pass, re-run per round).

Flags every `Exchange SinglePartition` whose CONSUMER is a Sort or Window
(the data-sized-funnel shape) rather than a scalar/final aggregate, and
prints the consumer line so bounded frames are visible at a glance:

- consumer mentions `__b` → the n_buckets-row offset table of the two-pass
  operators (bounded by construction, fine);
- entry in DECLARED → reference-parity or domain-bounded (documented in
  docs/SCALING.md "Deliberately left single-partition");
- anything else → a regression: a new unpartitioned Sort/Window over a
  potentially data-sized frame.

Exit 1 if any undeclared site is found. Streaming/ML-fit entries that
execute eagerly at construction are skipped, as in scan_audit.py.
"""

import os
import sys

# Derive the repo root from this file (not a hardcoded path) so the
# audit always reviews THE checkout it lives in (r9 review finding).
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from usedcars_bigdata_spark.plantools import (  # noqa: E402
    single_partition_funnel_sites,
)
from usedcars_bigdata_spark.session import get_session  # noqa: E402

spark = get_session(shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")

from usedcars_bigdata_spark.plans import QUERIES  # noqa: E402
from usedcars_bigdata_spark.operators.window import entry_scope  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

SKIP_PREFIXES = (
    "ts_stream", "rows_stream", "rows_word2vec", "rows_als", "rows_ml",
    "rows_quality", "rows_mmr", "veh_", "rows_fpgrowth", "rows_prefixspan",
    "ext_bpe",
)

# Documented exemptions (docs/SCALING.md §"Deliberately left
# single-partition"): reference W1-parity forms and windows over
# DOMAIN-BOUNDED tables — shared with the executed-plan audit so the two
# can never disagree (r11).
from audit_declarations import DECLARED  # noqa: E402

flagged: list[str] = []
errored: list[str] = []
for name, fn in QUERIES.items():
    if name.startswith(SKIP_PREFIXES):
        continue
    try:
        with entry_scope(spark):
            plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
    except Exception as e:  # noqa: BLE001
        # an entry whose plan won't build is UNAUDITED — that must fail
        # the run, or the "no undeclared funnels" claim silently skips it
        print(f"ERR   {name}: {type(e).__name__}")
        errored.append(name)
        continue
    for consumer in single_partition_funnel_sites(plan):
        tag = "declared" if name in DECLARED else "FLAG"
        print(f"{tag:9s} {name}: {consumer[:140]}")
        if tag == "FLAG":
            flagged.append(name)

print(
    f"\nAUDIT DONE — undeclared sites: {sorted(set(flagged))}; "
    f"unaudited (plan build failed): {errored}"
)
sys.exit(1 if flagged or errored else 0)
