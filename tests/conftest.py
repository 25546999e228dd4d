import glob
import os

import duckdb
import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# operators.cover.BROADCAST_MAX_BYTES values that force every operator
# to one side of the broadcast gate (unknown plan sizes read as 0 bytes)
GATE_SIDES = {"broadcast": 1 << 62, "distributed": -1}


@pytest.fixture(scope="session")
def spark():
    from gdal_boots_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("gbs-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def persisted_rdds(spark) -> set:
    """Ids of the RDDs the SparkContext holds persisted."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def duck_with_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Mirror the driver's oracle setup: each parquet as a view."""
    con = duckdb.connect()
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.splitext(os.path.basename(p))[0]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def compare_to_oracle(spark_df, sql: str, sf_dir: str, float_cols=(), atol=1e-9):
    """Order-insensitive comparison of a Spark result vs DuckDB oracle."""
    import pandas as pd

    got = spark_df.toPandas()
    con = duck_with_views(sf_dir)
    exp = con.execute(sql).fetchdf()
    con.close()
    assert sorted(got.columns) == sorted(exp.columns), (got.columns, exp.columns)
    cols = sorted(got.columns)
    got = got[cols].sort_values(cols).reset_index(drop=True)
    exp = exp[cols].sort_values(cols).reset_index(drop=True)
    assert len(got) == len(exp), f"row count {len(got)} != {len(exp)}"
    for c in cols:
        if c in float_cols:
            import numpy as np

            # equal_nan: left-outer queries legitimately emit nulls and
            # both engines must agree on their positions
            assert np.allclose(
                got[c].to_numpy(float), exp[c].to_numpy(float), atol=atol, equal_nan=True
            ), c
        else:
            pd.testing.assert_series_equal(
                got[c], exp[c], check_dtype=False, check_names=False, obj=c
            )
