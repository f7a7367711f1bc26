"""The oracle gate: every registered query against its DuckDB oracle,
under the grading driver's conditions.

Queries run in ``__spark_entry__.queries()`` order on a bare
``SparkSession.builder.master("local[N]")`` session (none of
``session.get_spark``'s configs; N is ``$SPARK_GRAFT_CPUS``, default
all cores), and each result goes through ``tests/oracle.compare``.
Prints one JSON line per query, ``{"query", "ok", "secs", "err"}``,
then a summary ``{"n", "passed", "failed", "secs"}`` where ``failed``
lists the failing names. Exits 1 on any failure, and when no query
name starts with a given prefix. Run from the repo root:

    python tools/gate_check.py [sf_dir] [name_prefix ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from tests.oracle import compare  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    prefixes = tuple(argv[1:])
    qs, oracles = entry.queries(), entry.oracle_sql()
    names = [n for n in qs if not prefixes or n.startswith(prefixes)]
    if not names:
        raise SystemExit(f"no registered query starts with any of {prefixes}")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or "*"
    spark = SparkSession.builder.master(f"local[{cpus}]").getOrCreate()
    failed = []
    t_start = time.time()
    for name in names:
        t0 = time.time()
        err = None
        try:
            compare(qs[name](spark, sf_dir), oracles[name], sf_dir)
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            msg = str(e).splitlines()
            err = f"{type(e).__name__}: {msg[0] if msg else ''}"[:500]
            traceback.print_exc(limit=3)
        rec = {"query": name, "ok": err is None, "secs": round(time.time() - t0, 2), "err": err}
        print(json.dumps(rec), flush=True)
    summary = {
        "n": len(names),
        "passed": len(names) - len(failed),
        "failed": failed,
        "secs": round(time.time() - t_start, 1),
    }
    print(json.dumps(summary), flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
