"""Oracle parity for every registered query with SQL — mirrors the driver's
CORRECTNESS check (row count + schema + order-insensitive values)."""

from __future__ import annotations

import pytest

from coldata_spark import registry
from tests.oracle_utils import compare, duck_connection

ALL = registry.specs()
WITH_SQL = sorted(n for n, s in ALL.items() if s.sql is not None)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", WITH_SQL)
def test_oracle_parity(spark, sf_dir, duck, name):
    spec = ALL[name]
    sdf = spec.fn(spark, sf_dir)
    oracle = duck.execute(spec.sql).df()
    problems = compare(sdf, oracle)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_rows_only_queries_run(spark, sf_dir):
    for name, spec in ALL.items():
        if spec.sql is None:
            df = spec.fn(spark, sf_dir)
            assert df.count() >= 0, name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"q_id", "parent_id", "best_score", "source", "snippet"}


def test_q135_null_user_id_matches_oracle(spark, tmp_path):
    """q135 on sf0.01 events with every 10th user_id NULL: the NULL-user
    group's events still count in n_events (the oracle's count(*)) but
    add no user to n_users (count(DISTINCT user_id) skips NULL)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tests.conftest import SF_DIR_ORACLE

    ev = pq.read_table(f"{SF_DIR_ORACLE}/events.parquet")
    i = ev.schema.get_field_index("user_id")
    mask = pa.array([k % 10 == 0 for k in range(ev.num_rows)])
    nulls = pa.nulls(ev.num_rows, ev.schema.field(i).type)
    ev = ev.set_column(i, ev.schema.field(i), pc.if_else(mask, nulls, ev["user_id"]))
    pq.write_table(ev, str(tmp_path / "events.parquet"))

    spec = ALL["q135_weekday_hour_heatmap"]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    oracle = con.execute(spec.sql).df()
    con.close()
    problems = compare(spec.fn(spark, str(tmp_path)), oracle)
    assert not problems, "; ".join(problems)
