"""Query-scope drain (``suite.drain_persisted_state``): at the outermost
registered-query entry it frees every cache, persist and
localCheckpoint registration the previous query left, is a no-op on an
empty session, and lets a failure propagate so the harness records it.
"""

from __future__ import annotations

import types

import pytest

from covid_19_fl_spark import suite, tables
from tests.conftest import SF_SMOKE


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_drain_frees_cache_persist_and_local_checkpoint(spark):
    cached = tables.load(spark, SF_SMOKE, "orders").cache()
    cached.count()
    rdd = spark.sparkContext.parallelize(range(100), 2).persist()
    rdd.count()
    tables.load(spark, SF_SMOKE, "nation").localCheckpoint(eager=True)
    assert _persisted(spark) >= 2
    assert not _cache_manager_empty(spark)

    suite.drain_persisted_state(spark)
    assert _persisted(spark) == 0
    assert _cache_manager_empty(spark)


def test_drain_on_empty_session_is_noop(spark):
    suite.drain_persisted_state(spark)
    suite.drain_persisted_state(spark)
    assert _persisted(spark) == 0
    assert _cache_manager_empty(spark)


def test_drain_error_propagates():
    def clear_cache():
        raise RuntimeError("clearCache failed")

    stub = types.SimpleNamespace(catalog=types.SimpleNamespace(clearCache=clear_cache))
    with pytest.raises(RuntimeError, match="clearCache failed"):
        suite.drain_persisted_state(stub)
