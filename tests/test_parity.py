"""Spark-vs-DuckDB parity for every inventory key that declares an oracle —
the same gate the driver runs (row count + schema + order-insensitive
values), at sf0.001 for speed plus sf0.01 to match the driver exactly.
"""

from __future__ import annotations

import pytest

from ecommerce_dbt_medallion_spark import api
from tests.conftest import (
    SF_CORRECTNESS,
    SF_SMOKE,
    assert_frames_match,
    register_views,
)

QUERIES = api.queries()
ORACLES = api.oracle_sql()
KEYS = sorted(ORACLES)


def test_every_oracle_has_query():
    missing = set(ORACLES) - set(QUERIES)
    assert not missing, f"oracle keys without queries(): {missing}"


@pytest.mark.parametrize("key", KEYS)
def test_parity_smoke_sf(spark, duck, key):
    register_views(duck, SF_SMOKE)
    spdf = QUERIES[key](spark, SF_SMOKE).toPandas()
    odf = duck.sql(ORACLES[key]).df()
    assert_frames_match(spdf, odf, key)


@pytest.mark.slow
@pytest.mark.parametrize("key", KEYS)
def test_parity_driver_sf(spark, duck, key):
    register_views(duck, SF_CORRECTNESS)
    spdf = QUERIES[key](spark, SF_CORRECTNESS).toPandas()
    odf = duck.sql(ORACLES[key]).df()
    assert_frames_match(spdf, odf, key)


def test_prior_queue_registered():
    """The round-13 queue joined queries() in round 14 (VERDICT r13 #1)
    and must never silently drop out."""
    assert {"pack_manifest_bfd", "doc_quality_calibration"} <= set(QUERIES)
