"""Conf-discipline lint + polluted-session determinism (round 10).

The round-9 driver showcase recorded a session-dependent hash mismatch
on ``x_modularity`` — green in isolation and in the full sweep, red
once inside the 50-query session. The suspect class was session state
that depends on which queries ran before you. Round 10's fix is
structural (confs.py): one canonical conf state pinned by the ``@query``
decorator at every entry, deviations only through ``scoped_conf``.
These tests make the fix self-enforcing:

* a SOURCE LINT fails if any ``spark.conf.set`` / ``.unset`` appears in
  ``covid_19_fl_spark/`` outside ``confs.py`` — new queries cannot
  reintroduce unscoped session mutation;
* a POLLUTED-SESSION test runs the x_label_propagation → x_modularity
  pair under deliberately hostile session confs (wrong timezone, odd
  shuffle width, ANSI mode) and asserts byte-identical results and a
  green DuckDB oracle — the exact failure signature the round-9 driver
  recorded, now pinned.
"""

from __future__ import annotations

import os
import re

from covid_19_fl_spark import suite
from covid_19_fl_spark.confs import SESSION_DEFAULTS, scoped_conf

from .conftest import SF_SMOKE
from .oracle import _rows_sorted, run_oracle

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "covid_19_fl_spark")

_CONF_MUTATION = re.compile(r"\.conf\.(set|unset)\(")


def test_no_unscoped_conf_mutation_in_package():
    """`spark.conf.set`/`unset` may appear ONLY in confs.py — every
    other module must go through ensure_session_defaults (uniform
    semantic state) or scoped_conf (restored tuning latch)."""
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            if os.path.relpath(path, PKG) == "confs.py":
                continue
            with open(path, encoding="utf-8") as f:
                for i, line in enumerate(f, 1):
                    if _CONF_MUTATION.search(line):
                        offenders.append(f"{os.path.relpath(path, PKG)}:{i}")
    assert not offenders, (
        "unscoped session-conf mutation outside confs.py (use "
        f"ensure_session_defaults or scoped_conf): {offenders}"
    )


def test_registered_queries_pin_session_defaults(spark):
    """The registry wrapper must reset drifted semantic confs before
    the query body runs — the uniformity guarantee itself."""
    key = "spark.sql.session.timeZone"
    spark.conf.set(key, "America/New_York")
    try:
        suite.QUERIES["a6_table_cardinality"](spark, SF_SMOKE)
        assert spark.conf.get(key) == SESSION_DEFAULTS[key]
    finally:
        spark.conf.set(key, SESSION_DEFAULTS[key])


def _modularity_rows(spark, sf_dir):
    df = suite.QUERIES["x_modularity"](spark, sf_dir)
    return _rows_sorted(df.columns, [tuple(r) for r in df.collect()])


def test_modularity_deterministic_in_polluted_session(spark):
    """Run the LPA→modularity pair twice under hostile session confs;
    results must be identical to each other AND to the DuckDB oracle.

    This is the round-9 red-row signature (rows/schema ok, values
    drifted) replayed as a regression test. The pollution set covers
    the classes a 50-query showcase session can accumulate: semantic
    confs (timezone), plan-shape confs (shuffle width, broadcast
    threshold), and evaluation-mode confs (ANSI)."""
    pollution = {
        "spark.sql.session.timeZone": "Australia/Eucla",
        "spark.sql.shuffle.partitions": "7",
        # AQE starts batch shuffles here, not at shuffle.partitions
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "7",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.ansi.enabled": "true",
    }
    with scoped_conf(spark, pollution):
        cols1, rows1 = _modularity_rows(spark, SF_SMOKE)
        cols2, rows2 = _modularity_rows(spark, SF_SMOKE)
    assert cols1 == cols2
    assert rows1 == rows2, "x_modularity drifted between two runs"
    d_cols, d_rows = run_oracle(suite.ORACLES["x_modularity"], SF_SMOKE)
    dc, dr = _rows_sorted(d_cols, d_rows)
    assert cols1 == dc
    assert rows1 == dr, "x_modularity disagrees with DuckDB in polluted session"
