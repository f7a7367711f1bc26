"""Record the expected row count of every registry query the benchmark
runs, on the generated corpus, into ``expected_counts.json``.

    python3 perfbench/record_counts.py        # from the repo root

Each query runs twice in one session; only counts that repeat exactly
are kept, the others are listed under "dropped" with the two values.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import run  # noqa: E402


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    work = os.path.join(HERE, ".work")
    run.configure_env(root, work)
    sf_dir = corpus.ensure_corpus(work)
    eng = run.Engine()
    eng.setup()
    names = run.SHORT_QUERIES + run.HEAVY_TAIL
    seen: dict[str, list[int]] = {n: [] for n in names}
    for _ in range(2):
        for n in names:
            seen[n].append(eng.suite.QUERIES[n](eng.spark, sf_dir).count())
    eng.shutdown()
    out = {
        "corpus_version": corpus.VERSION,
        "scale": corpus.SCALE,
        "counts": {n: v[0] for n, v in seen.items() if v[0] == v[1]},
        "dropped": {n: f"count not repeatable: {v}" for n, v in seen.items() if v[0] != v[1]},
    }
    with open(os.path.join(HERE, "expected_counts.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
