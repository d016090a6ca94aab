"""Driver-mimicking correctness gate: every queries() entry at sf0.01 vs
its oracle_sql() twin in DuckDB (row count + column names + order-
insensitive values), mirroring CORRECTNESS_r{N}.json semantics.
"""

import glob
import math
import os
import sys
import tempfile

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

SF = "/root/testdata/sf0.01"


def _duck(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con.sql(sql).df()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            import datetime
            import decimal
            df[c] = df[c].map(
                lambda v: float(v) if isinstance(v, decimal.Decimal)
                else (pd.Timestamp(v) if isinstance(v, datetime.date)
                      and not isinstance(v, datetime.datetime) else v))
    return df.sort_values(list(df.columns), kind="mergesort",
                          na_position="first").reset_index(drop=True)


def _values_equal(a, b) -> bool:
    if a is b:
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) or isinstance(b, float):
        try:
            return math.isclose(float(a), float(b), rel_tol=1e-9,
                                abs_tol=1e-9)
        except (TypeError, ValueError):
            return False
    return a == b


ORACLES = entrymod.oracle_sql()
ALL_QUERIES = entrymod.queries()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, name):
    qdf = ALL_QUERIES[name](spark, SF).toPandas()
    odf = _duck(ORACLES[name])
    assert sorted(qdf.columns) == sorted(odf.columns), \
        f"{name}: columns {sorted(qdf.columns)} vs {sorted(odf.columns)}"
    assert len(qdf) == len(odf), \
        f"{name}: row count {len(qdf)} vs {len(odf)}"
    qc, oc = _canon(qdf), _canon(odf)
    for col in qc.columns:
        for i, (x, y) in enumerate(zip(qc[col], oc[col])):
            assert _values_equal(x, y), \
                f"{name}.{col}[{i}]: spark={x!r} duckdb={y!r}"


@pytest.mark.parametrize("name", sorted(set(ALL_QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = ALL_QUERIES[name](spark, SF)
    n = df.count()
    assert n >= 0
    assert len(df.columns) > 0


def test_registry_drain_leaves_no_checkpoint_or_view(spark):
    """A streaming registry query drains into a memory table under a
    temp checkpoint. Both are gone once the query returns, and the
    returned frame still holds the drained rows: it matches the oracle
    after the cleanup."""
    name = "streaming_tumbling_events"

    def leftovers():
        return (set(glob.glob(os.path.join(tempfile.gettempdir(),
                                           "ckpt_q_*"))),
                {t.name for t in spark.catalog.listTables()
                 if t.isTemporary})

    before = leftovers()
    qdf = ALL_QUERIES[name](spark, SF)
    assert leftovers() == before
    pd.testing.assert_frame_equal(_canon(qdf.toPandas()),
                                  _canon(_duck(ORACLES[name])),
                                  check_dtype=False)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
