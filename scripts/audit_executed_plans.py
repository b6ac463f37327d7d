"""Executed-plan SinglePartition audit — the whole registry, no skips.

scripts/audit_single_partition.py classifies the CONSTRUCTED plan of each
lazy entry, but 16 name prefixes (eager MLlib fits, streaming foreachBatch
entries, veh_ pipelines, BPE) never hand back a lazy plan and were skipped
— exactly the blind spot where r10's rows_ml_quality_classifier funnel
hid (an unpartitioned data-sized rank window inside an eager entry). This
audit EXECUTES every registry entry with the SQL status store capturing
the physical plan of every execution the JVM actually ran — including
streaming micro-batch plans and the batch actions inside foreachBatch
handlers — and runs the same shared funnel classifier over all of them.

Mechanics: the SQL UI status store retains one plan description per SQL
execution id (spark.sql.ui.explainMode=simple prints the classic physical
tree the classifier walks; AQE final plans wrap exchanges in
ShuffleQueryStage nodes, which plantools.effective_consumer_of looks
through). Attribution is by execution-id watermark per entry, after
draining the listener bus.

Exit 1 on any undeclared funnel or any entry that failed to execute.
Run: python scripts/audit_executed_plans.py [name_prefixes] [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from audit_declarations import DECLARED, EXEC_DECLARED  # noqa: E402


def main() -> int:
    prefixes: list[str] | None = None
    if len(sys.argv) > 1 and sys.argv[1] != "all":
        prefixes = sys.argv[1].split(",")
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    # Mirror driver_sim's plain session (the audit must see the plans the
    # driver's runs produce), plus the status-store capture knobs.
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("audit_executed_plans")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.ui.explainMode", "simple")
        .config("spark.sql.ui.retainedExecutions", "50000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from usedcars_bigdata_spark.operators.window import entry_scope
    from usedcars_bigdata_spark.plans import QUERIES
    from usedcars_bigdata_spark.plantools import single_partition_funnel_sites

    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def drain_new_plans(last_id: int) -> tuple[list[str], int]:
        bus.waitUntilEmpty()
        execs = store.executionsList()
        plans, mx = [], last_id
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid > last_id:
                plans.append(e.physicalPlanDescription())
                mx = max(mx, eid)
        return plans, mx

    names = [
        n
        for n in QUERIES
        if prefixes is None or any(n.startswith(p) for p in prefixes)
    ]
    flagged: list[str] = []
    errored: list[str] = []
    last_id = -1
    audited = 0
    for name in names:
        t0 = time.time()
        failed = False
        try:
            with entry_scope(spark):
                QUERIES[name](spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"ERR   {name}: {type(e).__name__}")
            errored.append(name)
            failed = True
        if failed:
            # Drain whatever the failed entry DID execute (plus the
            # cleanup entry_scope ran on exit) so its plans are not
            # attributed to the NEXT entry — a real funnel could be
            # flagged under the wrong name or silently pass under the
            # next entry's declared exemption (r11 ADVICE).
            _, last_id = drain_new_plans(last_id)
            continue
        plans, last_id = drain_new_plans(last_id)
        sites: set[str] = set()
        for p in plans:
            sites.update(single_partition_funnel_sites(p))
        audited += 1
        for consumer in sorted(sites):
            tag = (
                "declared"
                if name in DECLARED or name in EXEC_DECLARED
                else "FLAG"
            )
            print(f"{tag:9s} {name}: {consumer[:140]}")
            if tag == "FLAG":
                flagged.append(name)
        if not sites:
            print(
                f"  clean     {name}: {len(plans)} executions "
                f"({time.time()-t0:.1f}s)"
            )

    print(
        f"\nEXECUTED-PLAN AUDIT DONE — {audited}/{len(names)} entries "
        f"executed; undeclared sites: {sorted(set(flagged))}; "
        f"failed to execute: {errored}"
    )
    return 1 if flagged or errored else 0


if __name__ == "__main__":
    sys.exit(main())
