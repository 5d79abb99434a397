"""The queries whose Spark plan and DuckDB oracle are both emitted from a
linkage model (operators/gamma.py, operators/scoring.py, operators/tf.py)
agree on value hashes, the same comparison ``tools/check_correctness.py``
makes for every query, so an emitter regression fails the suite."""

import importlib.util
import os

import pytest

from conftest import SF_DIR

MODEL_EMITTED = [
    "fs_customer_supplier_scores",
    "a11_em_training",
    "cascade_mini",
    "k_tf_adjusted_scores",
]
TABLES = ["customer", "supplier", "part"]


def _check_correctness():
    path = os.path.join(
        os.path.dirname(__file__), "..", "tools", "check_correctness.py"
    )
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", MODEL_EMITTED)
def test_model_emitted_query_matches_oracle(spark, duck, name):
    if not os.path.exists(os.path.join(SF_DIR, "customer.parquet")):
        pytest.skip(f"no test data at {SF_DIR}")
    from person_linkage_case_study_spark import queries

    table_digest = _check_correctness().table_digest
    sdf = queries.queries()[name](spark, SF_DIR)
    cols = sdf.columns
    srows = [[r[c] for c in cols] for r in sdf.collect()]
    res = duck.execute(queries.oracle_sql()[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert srows, name
    assert len(srows) == len(orows)
    assert sorted(cols) == sorted(ocols)
    assert table_digest(cols, srows) == table_digest(ocols, orows)
