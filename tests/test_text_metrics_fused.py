"""The fused single-pass text metrics must equal the composable Column
helpers exactly — the fusion is an evaluation-strategy change only."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iheardai_data_pipeline_spark.operators import text

DOCS = [
    (1, "The quick brown fox jumps over the lazy dog and it was good."),
    (2, ""),
    (3, "   "),
    (4, "!!! ??? ... ###"),
    (5, "a"),
    (6, "word " * 300),
    (7, "The the THE the and and is is to to in in."),
    (8, "x" * 250),
    (9, "Mixed 123 tokens, with punct-uation; and números."),
    # U+0130 lowercases to 'i' + combining dot (length changes): word
    # lengths must come from the UN-lowered split
    (10, "İstanbul İZMİR and the İ case"),
]


def test_fused_equals_column_helpers(spark):
    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    t = F.col("text")
    slow = df.select(
        "doc_id",
        text.token_count_ws(t).alias("n_tokens_ws"),
        text.token_count_bpe(t).alias("n_tokens_bpe"),
        text.punct_ratio(t).alias("punct_ratio"),
        text.stopword_ratio(t).alias("stopword_ratio"),
        text.mean_word_len(t).alias("mean_word_len"),
        text.quality_score(t).alias("quality"),
    ).orderBy("doc_id")
    fast = (
        text.with_text_quality_metrics(df, "text")
        .select(
            "doc_id",
            "n_tokens_ws",
            "n_tokens_bpe",
            "punct_ratio",
            "stopword_ratio",
            "mean_word_len",
            "quality",
        )
        .orderBy("doc_id")
    )
    assert slow.collect() == fast.collect()


def test_bigint_epoch_unit_inference(spark):
    from iheardai_data_pipeline_spark.sources.batch import (
        bigint_epoch_to_ts,
        infer_epoch_unit,
    )

    base_s = 1_700_000_000
    cases = [
        (base_s, 1_000_000),
        (base_s * 1000 + 123, 1_000),
        (base_s * 1_000_000 + 123_456, 1),
        (base_s * 1_000_000_000 + 123_456_789, -1000),
    ]
    for v, want_unit in cases:
        assert infer_epoch_unit(v) == want_unit, v
    # unit decided by the column MAX, applied uniformly: a ms column with
    # one pre-2001 outlier must NOT decode that row as seconds
    ms_rows = [(999_999_999_999,), (base_s * 1000,)]
    df = spark.createDataFrame(ms_rows, "v long")
    unit = infer_epoch_unit(max(v for (v,) in ms_rows))
    out = [
        r["us"]
        for r in df.select(
            F.unix_micros(bigint_epoch_to_ts("v", unit)).alias("us")
        ).collect()
    ]
    assert out == [999_999_999_999_000, base_s * 1_000_000]
    # ns floors to µs
    df = spark.createDataFrame([(base_s * 1_000_000_000 + 123_456_789,)], "v long")
    out = df.select(F.unix_micros(bigint_epoch_to_ts("v", -1000)).alias("us")).collect()
    assert out[0]["us"] == base_s * 1_000_000 + 123_456
    # wholly-pre-2001 columns are ambiguous under magnitude inference:
    # refuse rather than silently shift every timestamp
    for bad in (5, 999_999_999, 999_999_999_999 // 1000):
        with pytest.raises(ValueError, match="pre-2001"):
            infer_epoch_unit(bad)
