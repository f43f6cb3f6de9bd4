"""Local replica of the driver's DuckDB-oracle gate at sf0.001 —
every queries() entry with an oracle must match row-count + values."""

import duckdb
import numpy as np
import pytest

import __spark_entry__ as E
from tools.check_oracle import TABLES, compare


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


QUERIES = sorted(E.queries().items())
SQLS = E.oracle_sql()


@pytest.mark.parametrize(
    "name,fn",
    [
        # grid-fit queries run a full classifier grid under pytest —
        # slow tier (pytest.ini), same boundary as the old -k filter
        pytest.param(
            n,
            f,
            id=n,
            marks=[pytest.mark.grid] if "grid" in n else [],
        )
        for n, f in QUERIES
    ],
)
def test_query_matches_oracle(name, fn, spark, sf_dir, duck):
    spdf = fn(spark, sf_dir).toPandas()
    if name not in SQLS:
        assert len(spdf) > 0, f"{name}: rows-only check failed (0 rows)"
        return
    dpdf = duck.execute(SQLS[name]).fetchdf()
    verdict = compare(spdf, dpdf)
    assert verdict.startswith("OK"), f"{name}: {verdict}"


def test_entry_smoke(spark):
    df = E.entry(spark)
    assert df.count() > 0
    assert df.columns == ["series_id", "word", "cnt", "rk"]


def test_registry_is_complete():
    """172 queries, each with an oracle, and no oracle without a query."""
    assert len(QUERIES) == 172
    assert set(SQLS) == {name for name, _ in QUERIES}


def test_registry_raises_on_broken_module(monkeypatch):
    """A module that fails to import fails the registry instead of
    silently dropping its queries (or oracles)."""
    monkeypatch.setattr(E, "QUERY_MODULES", [*E.QUERY_MODULES, "sfa_spark.no_such"])
    with pytest.raises(ImportError):
        E.queries()
    monkeypatch.setattr(E, "ORACLE_MODULES", [*E.ORACLE_MODULES, "sfa_spark.no_such"])
    with pytest.raises(ImportError):
        E.oracle_sql()
