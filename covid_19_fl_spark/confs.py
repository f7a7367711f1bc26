"""Canonical session-conf discipline — the round-10 determinism fix.

The round-9 driver showcase produced the repo's first red row in 8
rounds: ``x_modularity`` hash-mismatched inside the 50-query session
while the same query was green in the full sweep 29 minutes earlier and
in 4 isolated reruns. The suspect class was SESSION STATE that depends
on which queries ran before you — unscoped ``spark.conf.set`` calls
scattered through query bodies (``spark.sql.session.timeZone``,
``spark.sql.legacy.parquet.nanosAsLong``, Python-source filter
pushdown). A replay of the showcase prefix in one session did not
reproduce the flake, so round 10 removes the entire hazard class rather
than one instance:

* ``SESSION_DEFAULTS`` is the ONE canonical conf state every registered
  query starts from. ``ensure_session_defaults`` pins it and the
  ``@query`` decorator (suite.py) applies it before every query body —
  a query's semantics can no longer depend on execution order, because
  the session is reset to the same state at every entry.
* ``scoped_conf`` is the only sanctioned way for a query to deviate:
  a context manager that restores the previous value on exit (the
  pattern ``_stream_shuffle_partitions`` / ``_stream_state_store``
  in suite_r4 established).
* ``tests/test_conf_discipline.py`` lints the source tree: any
  ``spark.conf.set`` outside this module / a context manager fails CI.

Why pin-at-entry instead of save/restore around each query? Because
query functions return LAZY DataFrames — the driver collects them
AFTER the function exits, so restoring a semantic conf (timezone,
nanos handling) on exit could change what the collect computes.
Uniformity is restore-proof: the state is simply always the same.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession

# The one conf state every registered query runs under. Values are
# semantic (affect results), so they are pinned rather than left to
# whatever the host session happens to carry:
#   timeZone      — date/timestamp casts must not depend on host TZ.
#   nanosAsLong   — events.parquet ships TIMESTAMP(NANOS) in some
#                   corpus generations; tables.load normalizes either
#                   representation, but the flag must be stable so the
#                   same session always reads the same schema.
#   filterPushdown — Spark 4 Python data sources that implement
#                   pushFilters() FAIL to plan without it; the REST
#                   source registers it for bare driver sessions.
SESSION_DEFAULTS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.python.filterPushdown.enabled": "true",
}


def ensure_session_defaults(spark: SparkSession) -> None:
    """Pin the canonical conf state (cheap: get-then-set only on drift)."""
    for key, val in SESSION_DEFAULTS.items():
        try:
            cur = spark.conf.get(key, None)
        except Exception:  # pragma: no cover - defensive on exotic confs
            cur = None
        if cur != val:
            spark.conf.set(key, val)


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set confs for the duration of a block; restore prior state after.

    The ONLY sanctioned way for a query body to deviate from
    SESSION_DEFAULTS — tuning knobs latched by a bounded operation
    (e.g. a streaming drain, a layout write) whose effect must not leak
    into the next query. Restores each key to its previous value, or
    unsets it if it was unset.
    """
    old: dict[str, str | None] = {}
    for key, val in confs.items():
        old[key] = spark.conf.get(key, None)
        spark.conf.set(key, val)
    try:
        yield
    finally:
        for key, prev in old.items():
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
