"""Bigram LM scoring: hand-computed micro example plus a full DuckDB
differential oracle on the documents table (the staged round-5 catalog
oracle, compared with the driver-faithful multiset machinery)."""

import math
import os
import sys

import pytest

from knime_core_columnar_spark.operators.text import bigram_logprob

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from knime_core_columnar_spark.catalog import BIGRAM_LM_ORACLE as BIGRAM_ORACLE


def test_bigram_micro_example(spark):
    # corpus bigrams: (a,b)x2 from docs 1,2; (b,a)x1; (b,c)x1
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b c"), (3, "b a"), (4, "x")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bigram_logprob(df, alpha=0.5).collect()}
    assert 4 not in out  # single-token doc has no bigrams
    # contexts: a->{b:2}, b->{a:1, c:1}; c1(a)=2, c1(b)=2, V=2
    lp_ab = round(math.log((2 + 0.5) / (2 + 0.5 * 2)), 6)
    lp_bc = round(math.log((1 + 0.5) / (2 + 0.5 * 2)), 6)
    lp_ba = lp_bc
    assert out[1]["n_bigrams"] == 1
    assert out[1]["avg_bigram_logprob"] == pytest.approx(lp_ab, abs=1e-6)
    assert out[2]["n_bigrams"] == 2
    assert out[2]["avg_bigram_logprob"] == pytest.approx(
        (round(lp_ab * 1e6) + round(lp_bc * 1e6)) / 2e6, abs=1e-6
    )
    assert out[3]["avg_bigram_logprob"] == pytest.approx(lp_ba, abs=1e-6)


def test_word_salad_scores_below_prose(spark):
    prose = "the cat sat on the mat and the dog sat on the rug"
    rows = [(i, prose) for i in range(20)]
    rows.append((100, "mat the on dog rug cat the and sat the on the"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["avg_bigram_logprob"] for r in bigram_logprob(df).collect()}
    assert out[100] < out[0]




def test_bigram_duckdb_oracle(spark, sf_dir):
    import duckdb

    from check import frame_to_multiset, oracle_type_problems

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = bigram_logprob(d).toPandas()

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    assert not oracle_type_problems(con, BIGRAM_ORACLE)
    want = con.execute(BIGRAM_ORACLE).fetchdf()

    assert len(got) == len(want) > 0
    assert frame_to_multiset(got) == frame_to_multiset(want)
