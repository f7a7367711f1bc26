"""Per-query optimization profiler.

Times individual registered queries in ISOLATION (warmup + N timed
repeats, min kept — the same steady-state methodology as bench.py) and
captures ``.explain("formatted")`` output to ``<out-dir>/<name>_<tag>.txt``
for an optimization round's before/after evidence.

Usage:
    python tools/profile_query.py --out-dir plans/r11 --tag before q1 q2 ...
    python tools/profile_query.py --out-dir plans/r11 --tag after --repeats 3 cur_funnel
    python tools/profile_query.py --out-dir plans/r11 --plan-only --tag before cur_funnel

Prints one JSON line per query: {"query": ..., "sec": min, "runs": [...]}.
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
    os.makedirs(args.out_dir, exist_ok=True)

    results = []
    for name in args.names:
        if name not in suite.QUERIES:
            print(json.dumps({"query": name, "error": "unknown"}))
            continue
        fn = suite.QUERIES[name]
        spark.sparkContext.setJobDescription(f"profile: {name}")
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
        runs = []
        # warmup
        fn(spark, args.sf_dir).count()
        for _ in range(args.repeats):
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).count()
            runs.append(round(time.perf_counter() - t0, 4))
        rec = {"query": name, "sec": min(runs), "runs": runs}
        results.append(rec)
        print(json.dumps(rec), flush=True)
    spark.sparkContext.setJobDescription(None)
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
