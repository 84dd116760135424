"""Cross-engine parity of the data-adaptive blocking-cap formulas.

The dedup family's hot-token cap is computed in Python on the
Spark side (`token_df_cap`) and as a scalar subquery inside the DuckDB
oracle (`TOKEN_DF_CAP_SQL`). Both reduce to GREATEST(64,
CEIL(4*SQRT(n))) — IEEE sqrt is correctly rounded and *4 is an exact
power-of-two scaling, so the two must agree bit-for-bit at ANY corpus
size. This pins that claim over 12 orders of magnitude so a future
formula edit that breaks parity (e.g. a multiplier that isn't a power
of two applied before the sqrt) fails here, not in the gate.

The operators that load a fixture table themselves take N from the
parquet footers (`table_rowcount`), the oracles from COUNT(*): the two
must be the same number, and building the plan must run no count job.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from stream_ingestion_amazon_kinesis_spark.operators.dedup import (
    lsh_bucket_cap,
    minhash_lsh_neardup,
    shingle_jaccard_pairs,
    token_df_cap,
)
from stream_ingestion_amazon_kinesis_spark.operators.similarity import (
    embedding_neardup_ivf,
)
from stream_ingestion_amazon_kinesis_spark.sources.catalog import (
    load_table,
    table_rowcount,
)

_con = duckdb.connect()


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=0, max_value=10**12))
def test_token_df_cap_matches_oracle_formula(n):
    sql = _con.execute(
        f"SELECT GREATEST(64, CAST(CEIL(4 * SQRT({n})) AS BIGINT))"
    ).fetchone()[0]
    assert token_df_cap(n) == sql


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=0, max_value=10**12))
def test_lsh_bucket_cap_monotone_and_bounded(n):
    cap = lsh_bucket_cap(n)
    assert cap >= 64
    # k^2/2 pair emission under the cap stays ~2N: cap = ceil(2*sqrt(n))
    # so cap^2 <= 4n + 4*sqrt(n) + 1 (plus the 64 floor for tiny n)
    assert cap * cap <= max(4 * n + 4 * math.isqrt(n) + 1, 64 * 64)


def test_cap_values_at_fixture_sizes():
    # The documented defaults at the shipped fixture sizes (and sf1).
    assert token_df_cap(500) == 90
    assert token_df_cap(5000) == 283
    assert token_df_cap(50000) == 895
    assert lsh_bucket_cap(5000) == 142


@pytest.mark.parametrize("table", ["documents", "embeddings"])
def test_footer_rowcount_equals_scan_count(spark, sf_dir, table):
    assert table_rowcount(sf_dir, table) == load_table(spark, sf_dir, table).count()


@pytest.mark.parametrize(
    "build", [minhash_lsh_neardup, shingle_jaccard_pairs, embedding_neardup_ivf]
)
def test_cap_sizing_runs_no_count(spark, sf_dir, monkeypatch, build):
    """Building the plan takes the corpus size from the parquet footers:
    no `DataFrame.count()` job. (The build still runs other jobs: the
    parquet schema read, and for `minhash_lsh_neardup` the shuffle
    stages of its lazy `localCheckpoint` under AQE, so an empty job
    group is not the test.)"""

    def count(self):
        raise AssertionError("count() while building the plan")

    monkeypatch.setattr(type(spark.range(1)), "count", count)
    build(spark, sf_dir)
