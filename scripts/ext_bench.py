"""The EXT set CLI: time pinned EXT sets or named catalog queries at
$SPARK_GRAFT_SF_DIR with the shared loop of ``scripts/ext_common.py``
(session warm-up, cold + 2 reps through the noop sink, sentinel
bracket) and print ONE JSON line per group. Usage:

    python scripts/ext_bench.py ext7
    python scripts/ext_bench.py ext ext2
    python scripts/ext_bench.py --plans DIR graph_sssp mm_jpeg_decode

Each set name (``ext``, ``ext2`` … ``ext8``; see ``EXT_SETS``) is one
group reported as ``<set>_queries_total_sec``; query names given
directly are timed together as ``adhoc_queries_total_sec``. With no
argument the ``ext`` set runs. ``--plans DIR`` also writes each
query's ``explain("formatted")`` to ``DIR/<name>.txt`` and adds its
plan-shape counters to the line (``plan_counters``), so before/after
plan diffs are one grep. bench.py stays the headline timer; this CLI
never writes BENCH*.json.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_counters(plan: str) -> dict[str, int]:
    """Operator counts of a formatted plan, read from its tree section
    (each node once, e.g. ``{"MapInPandas": 2, "Exchange": 1}``); the
    numbered detail section below it names every node a second time."""
    tree = plan.split("\n\n")[0]
    names = re.findall(r"(\w[\w ]*?) *\(\d+\)$", tree, re.MULTILINE)
    return dict(Counter(names))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from scripts.ext_common import EXT_SETS, timed_loop, warm_session
    from shippai_knowledge_etl_spark.catalog import queries

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", default=["ext"], help="set or query names")
    ap.add_argument("--plans", help="write each query's formatted plan here")
    args = ap.parse_args()

    q = queries()
    groups: dict[str, list[str]] = {}
    for arg in args.names:
        if arg in EXT_SETS:
            groups[arg] = list(EXT_SETS[arg])
        elif arg in q:
            groups.setdefault("adhoc", []).append(arg)
        else:
            print(f"unknown set or query: {arg}", file=sys.stderr)
            return 2

    from shippai_knowledge_etl_spark.session import get_spark

    spark = get_spark("ext-bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm_session(spark, sf_dir)
    for group, names in groups.items():
        res = timed_loop(spark, sf_dir, {n: q[n] for n in names})
        line = {
            "metric": f"{group}_queries_total_sec",
            "value": round(sum(res["cold"].values()), 4),
            "unit": "sec",
            "queries": res["cold"],
            "queries_warm": res["warm"],
            "warm_total_sec": round(sum(res["warm"].values()), 4),
            "queries_median": res["median"],
            "median_total_sec": round(sum(res["median"].values()), 4),
            "sentinel_pre_sec": res["sentinel_pre_sec"],
            "sentinel_post_sec": res["sentinel_post_sec"],
            "sentinel_pin_sec": res["sentinel_pin_sec"],
            "unstable": res["unstable"],
            "sf": sf_dir,
            "cpus": res["cpus"],
        }
        if args.plans:
            pdir = Path(args.plans)
            pdir.mkdir(parents=True, exist_ok=True)
            line["plan_counters"] = {}
            for name in names:
                df = q[name](spark, sf_dir)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                (pdir / f"{name}.txt").write_text(plan)
                line["plan_counters"][name] = plan_counters(plan)
        print(json.dumps(line), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
