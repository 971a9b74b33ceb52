"""Semantic dedup (SemDeDup): behavior on synthetic near-dups plus a
full DuckDB differential oracle on the real embeddings table — the SQL
here is the staged round-5 catalog oracle, exercised through the same
dtype-sensitive comparison the external driver uses."""

import os
import sys

import pytest
from pyspark.sql import functions as F

from knime_core_columnar_spark.operators.semdedup import semantic_dedup

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from knime_core_columnar_spark.catalog import SEMDEDUP_ORACLE


@pytest.fixture(scope="module")
def vectors(spark):
    # two tight groups + one singleton; ids chosen so min-id winners are known
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (5, [0.999, 0.01, 0.0]),   # near-dup of 1
        (9, [1.0, 0.001, 0.0]),    # near-dup of 1
        (2, [0.0, 1.0, 0.0]),
        (7, [0.0, 0.998, 0.02]),   # near-dup of 2
        (3, [0.0, 0.0, 1.0]),      # singleton
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_min_id_survives(spark, vectors):
    out = {r["vec_id"]: r["keep"] for r in
           semantic_dedup(vectors, k=3, threshold=0.99).collect()}
    assert out[1] and out[2] and out[3]
    assert not out[5] and not out[9] and not out[7]


def test_threshold_one_keeps_separated(spark):
    # pairs far enough apart that no cosine ROUNDS to 1.0 (the operator
    # thresholds on round(cos, 6), so cos >= 0.9999995 counts as 1.0)
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, k=2, threshold=1.0)
    assert out.filter(~F.col("keep")).count() == 0


def test_validation(spark, vectors):
    with pytest.raises(ValueError):
        semantic_dedup(vectors, threshold=0.0)




def test_semdedup_duckdb_oracle(spark, sf_dir):
    import duckdb

    from check import frame_to_multiset, oracle_type_problems

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = semantic_dedup(
        emb, k=8, threshold=0.4, corpus_count=emb.count()
    ).toPandas()

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    assert not oracle_type_problems(con, SEMDEDUP_ORACLE)
    want = con.execute(SEMDEDUP_ORACLE).fetchdf()

    assert len(got) == len(want) > 0
    assert (~got["keep"]).sum() > 0, "threshold should drop at least one row"
    assert frame_to_multiset(got) == frame_to_multiset(want)


def test_r5_section_registered():
    """The round-5 section registers at import: every name is live in
    QUERIES with its oracle (bpe_merges gained its unrolled-loop oracle
    in round 11 — the catalog has no oracle-less query left)."""
    from knime_core_columnar_spark import catalog

    r5 = ["semantic_dedup", "bigram_lm_quality", "decontaminate_bloom",
          "stream_stream_join_batch", "bpe_merges"]
    for name in r5:
        assert callable(catalog.QUERIES[name])
        assert "SELECT" in catalog.ORACLES[name].upper()
    assert set(catalog.QUERIES) == set(catalog.ORACLES)
