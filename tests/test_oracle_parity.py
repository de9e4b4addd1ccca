"""Mirror of the driver's correctness gate: every queries() entry must
value-match its oracle_sql() twin on DuckDB (order-insensitive, columns
sorted by name)."""

import hashlib
import json
import pathlib

import duckdb
import pandas as pd
import pytest

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(df.columns)
    return (
        df.reindex(cols, axis=1)
        .sort_values(cols)
        .reset_index(drop=True)
    )


def _registry():
    import __spark_entry__ as E

    qs, os_ = E.queries(), E.oracle_sql()
    assert set(os_) <= set(qs), "oracle without a query"
    return qs, os_


def test_driver_contract_is_pinned():
    """The names ``__spark_entry__.queries()`` exposes, their order and every
    oracle SQL string match the checked-in pin (query name → sha256 of its
    oracle SQL, in registry order): a refactor behind the entry contract
    must leave the contract itself byte-identical."""
    from marie_icr_spark import queries

    pin = json.loads(
        (pathlib.Path(__file__).parent / "driver_contract_pin.json").read_text()
    )
    assert list(queries.QUERIES) == list(pin)
    got = {
        k: hashlib.sha256(v.encode()).hexdigest()
        for k, v in queries.ORACLES.items()
    }
    assert got == pin


def test_all_queries_have_oracles():
    qs, os_ = _registry()
    missing = set(qs) - set(os_)
    # every operator currently claims SQL-expressible semantics
    assert not missing, f"queries without oracle: {missing}"


@pytest.mark.parametrize("name", sorted(_registry()[0]))
def test_query_matches_oracle(spark, con, name):
    qs, os_ = _registry()
    sdf = _norm(qs[name](spark, SF_DIR).toPandas())
    if name not in os_:
        assert len(sdf) >= 0  # rows-only check
        return
    odf = _norm(con.execute(os_[name]).fetchdf())
    assert len(sdf) == len(odf), f"row count {len(sdf)} != {len(odf)}"
    # The driver hashes stringified values, so int64 1478 vs float64 1478.0
    # is a FAIL there even though assert_frame_equal(check_dtype=False)
    # passes. Mirror that: numeric kind (i/u vs f) must agree per column.
    for c in sdf.columns:
        sk = sdf[c].dtype.kind.replace("u", "i")
        ok = odf[c].dtype.kind.replace("u", "i")
        if {sk, ok} <= {"i", "f"}:
            assert sk == ok, (
                f"column {c}: spark dtype {sdf[c].dtype} vs oracle {odf[c].dtype}"
                " — cross-engine numeric kind mismatch (CAST the oracle)"
            )
    pd.testing.assert_frame_equal(sdf, odf, check_dtype=False)
