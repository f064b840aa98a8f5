"""End-to-end Spark parse vs the golden oracle (SURVEY.md §5.2)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from nginx_log_spark.datagen import loggen
from nginx_log_spark.parse import parse_lines, parse_sequences

N = 3000


def _golden():
    return loggen.golden_pandas(N).sort_values("doc_id").reset_index(drop=True)


def _assert_matches_golden(pdf: pd.DataFrame, g: pd.DataFrame):
    assert (pdf.valid == g.valid).all()
    for k in (
        "remote_addr remote_user time_local request status "
        "http_referer http_user_agent http_x_forwarded_for"
    ).split():
        exp = g["exp_" + k].where(g.valid, None).fillna("\0")
        got = pdf[k].where(pdf.valid, None).fillna("\0")
        assert (exp == got).all(), k
    exp_b = g["exp_body_bytes_sent"].astype("Float64")
    got_b = pdf["body_bytes_sent"].astype("Float64")
    assert ((exp_b.isna() & got_b.isna()) | (exp_b == got_b)).all()


def test_parse_sequences_matches_oracle(spark):
    df = loggen.sequences_df(spark, N, partitions=4)
    pdf = parse_sequences(df).toPandas().sort_values("doc_id").reset_index(drop=True)
    _assert_matches_golden(pdf, _golden())


def test_parse_lines_matches_oracle(spark):
    g = _golden()
    df = spark.createDataFrame(g[["doc_id", "line"]])
    pdf = parse_lines(df).toPandas().sort_values("doc_id").reset_index(drop=True)
    _assert_matches_golden(pdf, g)


def test_tokens_preserved_through_parse(spark):
    """Per-row invariant (BASELINE.json input_hint): parse must not touch tokens."""
    df = loggen.sequences_df(spark, 500, partitions=2)
    out = parse_sequences(df).select("doc_id", "tokens").toPandas()
    exp = loggen.sequences_pandas(np.arange(500, dtype=np.uint64))
    out = out.sort_values("doc_id").reset_index(drop=True)
    assert all((np.asarray(x) == y).all() for x, y in zip(out.tokens, exp.tokens))
