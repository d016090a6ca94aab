"""Driver-mimicking correctness gate: every queries() entry at sf0.01 vs
its oracle_sql() twin in DuckDB (row count + column names + order-
insensitive values), mirroring CORRECTNESS_r{N}.json semantics.
"""

import glob
import math
import os
import sys
import tempfile
import warnings
from concurrent.futures import ThreadPoolExecutor

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


def _caller(spark, width=None):
    """A driver session that is not the engine's: New York time, at
    `width` shuffle partitions (default: the fixture session's)."""
    c = spark.newSession()
    c.conf.set("spark.sql.session.timeZone", "America/New_York")
    c.conf.set("spark.sql.shuffle.partitions",
               str(width or spark.conf.get("spark.sql.shuffle.partitions")))
    return c


def _footprint(s):
    """What a registry query must leave as it found it on its caller:
    the conf, the temporary views and the registered functions."""
    return (s.conf.getAll,
            sorted(t.name for t in s.catalog.listTables() if t.isTemporary),
            sorted(r[0] for r in s.sql("SHOW USER FUNCTIONS").collect()))


@pytest.fixture(scope="module")
def caller(spark):
    return _caller(spark)


def _run(caller, name, action):
    """`action` of query `name` run from `caller`, whose footprint must
    be the same after the call and the action as before."""
    before = _footprint(caller)
    out = action(ALL_QUERIES[name](caller, SF))
    assert _footprint(caller) == before, f"{name} changed its caller"
    return out


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(caller, name):
    qdf = _run(caller, name, lambda df: df.toPandas())
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
def test_rows_only_queries_run(caller, name):
    n, cols = _run(caller, name, lambda df: (df.count(), df.columns))
    assert n >= 0
    assert len(cols) > 0


def test_pandas_udaf_geomean_raises_no_user_warning(caller):
    """The grouped-aggregate pandas UDFs are declared by type hints: the
    deprecated PandasUDFType.GROUPED_AGG form warns at every call."""
    name = "pandas_udaf_geomean"
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        qdf = _run(caller, name, lambda df: df.toPandas())
    pd.testing.assert_frame_equal(_canon(qdf), _canon(_duck(ORACLES[name])),
                                  check_dtype=False)


def test_registry_queries_on_threads_of_one_caller(spark):
    """Two registry queries run at once on two threads of one caller (a
    streaming drain and a batch aggregate) return the rows each returns
    alone, and leave the caller as they found it."""
    names = ["streaming_tumbling_events", "datetime_monthly_orders"]
    c = _caller(spark)
    before = _footprint(c)
    alone = {n: _canon(ALL_QUERIES[n](c, SF).toPandas()) for n in names}
    with ThreadPoolExecutor(len(names)) as pool:
        futs = {n: pool.submit(lambda n=n: ALL_QUERIES[n](c, SF).toPandas())
                for n in names}
        together = {n: _canon(f.result(timeout=600))
                    for n, f in futs.items()}
    for n in names:
        pd.testing.assert_frame_equal(together[n], alone[n])
    assert _footprint(c) == before


@pytest.mark.parametrize("name", ["streaming_tumbling_events",
                                  "datetime_monthly_orders"])
def test_query_body_runs_on_child_session(spark, monkeypatch, name):
    """A query body runs on a child of its caller whose conf is the
    caller's, with UTC and Arrow pinned and a drain's width (at a caller
    width of 3, under the drain floor of 8, the caller's width)."""
    from glcmstream import queries, stream

    c = _caller(spark, width=3)
    seen = []

    def spy(mod, attr, session_of):
        real = getattr(mod, attr)

        def wrapped(*args, **kwargs):
            seen.append(session_of(*args))
            return real(*args, **kwargs)
        monkeypatch.setattr(mod, attr, wrapped)

    spy(stream, "drain", lambda sdf, *_: sdf.sparkSession)
    spy(queries, "_t", lambda s, *_: s)
    ALL_QUERIES[name](c, SF)
    assert seen
    for child in seen:
        assert not child._jsparkSession.equals(c._jsparkSession)
        assert child.conf.getAll == {**c.conf.getAll, **queries._PINNED}


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
