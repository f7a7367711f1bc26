"""Per-query optimization profiler.

Times individual registered queries in ISOLATION (warmup + N timed
repeats, min kept — the same steady-state methodology as bench.py) and
captures ``.explain("formatted")`` output to ``<out-dir>/<name>_<tag>.txt``
for an optimization round's before/after evidence.

Usage:
    python tools/profile_query.py --out-dir plans/r11 --tag before q1 q2 ...
    python tools/profile_query.py --out-dir plans/r11 --tag after --repeats 3 cur_funnel
    python tools/profile_query.py --out-dir plans/r11 --plan-only --tag before cur_funnel

Prints one JSON line per query: {"query": ..., "sec": min, "runs": [...],
"build_s": ..., "build_jobs": ...}. ``build_s`` is the fastest timed
run's build, ``QUERIES[name](spark, sf)`` timed apart from ``.count()``;
``build_jobs`` is the number of Spark jobs that build launched (table
schema inference, per-round counts, eager checkpoints), counted in a
per-run job group.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from covid_19_fl_spark import suite  # noqa: E402
from covid_19_fl_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--out-dir", required=True, help="plan capture directory, e.g. plans/r11")
    ap.add_argument("--tag", default=None, help="plan file suffix (before/after)")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--plan-only", action="store_true")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    spark = get_spark("covid_19_fl_spark-profile")
    sc = spark.sparkContext
    os.makedirs(args.out_dir, exist_ok=True)

    results = []
    for name in args.names:
        if name not in suite.QUERIES:
            print(json.dumps({"query": name, "error": "unknown"}))
            continue
        fn = suite.QUERIES[name]
        sc.setJobDescription(f"profile: {name}")
        plan = os.path.join(args.out_dir, f"{name}_{args.tag}.txt")
        if args.tag:
            df = fn(spark, args.sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(plan, "w") as fh:
                fh.write(buf.getvalue())
        if args.plan_only:
            print(json.dumps({"query": name, "plan": plan}))
            continue
        runs, builds = [], []
        # warmup
        fn(spark, args.sf_dir).count()
        for i in range(args.repeats):
            group = f"profile:{name}:{i}"
            sc.setJobGroup(group, f"profile: {name}")
            t0 = time.perf_counter()
            df = fn(spark, args.sf_dir)
            build_s = time.perf_counter() - t0
            build_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            t1 = time.perf_counter()
            df.count()
            runs.append(round(build_s + time.perf_counter() - t1, 4))
            builds.append((round(build_s, 4), build_jobs))
        build_s, build_jobs = builds[runs.index(min(runs))]
        rec = {
            "query": name,
            "sec": min(runs),
            "runs": runs,
            "build_s": build_s,
            "build_jobs": build_jobs,
        }
        results.append(rec)
        print(json.dumps(rec), flush=True)
    sc.setJobDescription(None)
    if results:
        print(json.dumps({"total_min": round(sum(r["sec"] for r in results), 3)}))
    try:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
    except Exception:  # noqa: BLE001
        pass


if __name__ == "__main__":
    main()
