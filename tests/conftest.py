from __future__ import annotations

import glob
import os

import duckdb
import pytest

SF_DIR = os.environ.get("PAC_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pac_spark.session import get_spark

    spark = get_spark(app_name="pac_spark_tests", master="local[16]", shuffle_partitions=16)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def gate_decisions(monkeypatch) -> list[bool]:
    """Every ``session.fits_broadcast`` decision made during the test,
    in call order — proves which join path a loop actually took."""
    from pac_spark import session

    decisions: list[bool] = []
    real = session.fits_broadcast

    def recording(spark, rows):
        decisions.append(real(spark, rows))
        return decisions[-1]

    monkeypatch.setattr(session, "fits_broadcast", recording)
    return decisions


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with the same views the driver registers."""
    con = duckdb.connect()
    for path in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(path)[: -len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    yield con
    con.close()


def canonical(df_pandas):
    """Canonicalize a result frame the way an order-insensitive
    value-hash would see it: columns sorted by name, rows sorted by
    stringified values, floats via repr (exact — the engine guarantees
    bit-identical arithmetic vs the oracle)."""
    import pandas as pd

    df = df_pandas.reindex(sorted(df_pandas.columns), axis=1)
    def cell(v):
        if v is None or v != v:
            return "<null>"
        if isinstance(v, float):
            return repr(round(v, 9) + 0.0)
        return str(v)

    rows = sorted(tuple(cell(v) for v in row) for row in df.itertuples(index=False))
    return list(df.columns), rows


def assert_oracle_match(spark_df, duck_rel):
    scols, srows = canonical(spark_df.toPandas())
    ocols, orows = canonical(duck_rel.df())
    assert scols == ocols, f"column mismatch: spark={scols} oracle={ocols}"
    assert len(srows) == len(orows), f"row count: spark={len(srows)} oracle={len(orows)}"
    for i, (a, b) in enumerate(zip(srows, orows)):
        assert a == b, f"row {i} differs:\n  spark : {a}\n  oracle: {b}"
