"""Catalog-wide smoke + spot oracle checks at sf0.001.

The full oracle diff lives in tools/check_correctness.py (and the
driver's gate); here we keep a fast always-on safety net: every catalog
entry executes and returns rows with columns, and a few cheap queries
are value-checked against DuckDB inline. The smoke check reads the
frame ``test_correctness_gate`` checks for dtype parity
(``catalog_frame``), so each entry runs once per session.
"""

from __future__ import annotations

import duckdb
import pytest

from real_time_video_streaming_analytics_lakehouse_spark.plans import CATALOG
from real_time_video_streaming_analytics_lakehouse_spark.sources.readers import TABLES

from .conftest import SF_DIR

# Queries whose result is legitimately empty at sf0.001.
MAY_BE_EMPTY = {"customers_without_orders"}


@pytest.mark.parametrize("name", sorted(CATALOG))
def test_catalog_query_runs(catalog_frame, name):
    pdf = catalog_frame(name)
    assert len(pdf.columns), f"{name} has no columns"
    if name not in MAY_BE_EMPTY:
        assert len(pdf) > 0, f"{name} returned no rows"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize(
    "name", ["pricing_summary", "daily_active_users", "latest_event_per_user"]
)
def test_spot_oracle_match(spark, duck, name):
    spec = CATALOG[name]
    sdf = spec.fn(spark, SF_DIR)
    srows = sorted(
        tuple(str(v) for v in row)
        for row in sdf.select(*sorted(sdf.columns)).collect()
    )
    cur = duck.execute(spec.oracle)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    orows = sorted(tuple(str(r[i]) for i in order) for r in cur.fetchall())
    assert sorted(sdf.columns) == sorted(cols)
    assert srows == orows


def test_entry_contract(spark):
    import __spark_entry__ as ep

    df = ep.entry(spark)
    assert df.count() > 0
    qs, osql = ep.queries(), ep.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) == len(CATALOG)
