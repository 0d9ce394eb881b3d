"""Cross-engine determinism of functions.exact (the ROUND(double) fix).

The property under test: for integral num/den, Spark's ratio_half_up and
DuckDB's sql_ratio_half_up produce the IDENTICAL double — including at
exact decimal-half midpoints where plain ROUND(num/den, k) diverges
between the engines (round-1 a2/a5 hash failures).
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from iheardai_data_pipeline_spark.functions.exact import (
    ratio_half_up,
    sql_ratio_half_up,
)

CASES = [
    # (num, den, digits) — midpoint-heavy denominators (2^k * 5^m) included
    (1, 8, 4),       # 0.125 -> exact at 4
    (1, 16, 4),      # 0.0625
    (3, 16, 4),      # 0.1875 -> tie at 4: 0.1875 -> HALF_UP 0.188? (digits=4 keeps)
    (1, 32, 4),      # 0.03125 -> tie: HALF_UP -> 0.0313
    (3, 128, 6),     # 0.0234375 -> tie at 6 -> 0.023438
    (211612353130, 800, 4),  # the a2 class: cents/100n with n=8
    (5, 2, 0),       # 2.5 -> 3 (HALF_UP at 0 digits)
    (-1, 32, 4),     # negative: half away from zero -> -0.0313
    (-5, 2, 0),      # -2.5 -> -3
    (0, 7, 4),
    (123456789, 97, 6),  # non-terminating
]


def test_ratio_matches_duckdb_bitwise(spark):
    con = duckdb.connect()
    for n, d, k in CASES:
        s_val = (
            spark.range(1)
            .select(ratio_half_up(F.lit(n), F.lit(d), k).alias("r"))
            .collect()[0]["r"]
        )
        d_val = con.execute(
            f"SELECT {sql_ratio_half_up(str(n), str(d), k)}"
        ).fetchone()[0]
        assert s_val == d_val, (n, d, k, s_val, d_val)


def test_half_up_semantics(spark):
    # 1/32 = 0.03125: HALF_UP at 4 digits rounds the trailing 5 up
    v = (
        spark.range(1)
        .select(ratio_half_up(F.lit(1), F.lit(32), 4).alias("r"))
        .collect()[0]["r"]
    )
    assert v == 0.0313
    # negative mirrors away from zero
    v = (
        spark.range(1)
        .select(ratio_half_up(F.lit(-1), F.lit(32), 4).alias("r"))
        .collect()[0]["r"]
    )
    assert v == -0.0313


def test_ratio_matches_duckdb_randomized_bulk(spark):
    """500 seeded random (num, den, digits) triples, compared bitwise in
    ONE Spark job and one DuckDB query — the broad-spectrum guard behind
    the hand-picked midpoint cases above."""
    import random

    import pandas as pd

    rng = random.Random(20260813)
    cases = []
    for _ in range(500):
        digits = rng.choice([0, 1, 2, 4, 6])
        den = rng.choice(
            [rng.randint(1, 10), 2 ** rng.randint(0, 12), rng.randint(1, 10**6)]
        )
        num = rng.randint(-(10**9), 10**9)
        cases.append((num, den, digits))
    sdf = spark.createDataFrame(
        pd.DataFrame(cases, columns=["num", "den", "digits"])
    )
    got = {}
    for digits in sorted({k for _, _, k in cases}):
        part = sdf.filter(F.col("digits") == digits).select(
            "num", "den", ratio_half_up(F.col("num"), F.col("den"), digits).alias("r")
        )
        for row in part.collect():
            got[(row["num"], row["den"], digits)] = row["r"]
    con = duckdb.connect()
    con.register("t", pd.DataFrame(cases, columns=["num", "den", "digits"]))
    for digits in sorted({k for _, _, k in cases}):
        sql = sql_ratio_half_up("num", "den", digits)
        for num, den, r in con.execute(
            f"SELECT num, den, {sql} FROM t WHERE digits = {digits}"
        ).fetchall():
            assert got[(num, den, digits)] == r, (num, den, digits, got[(num, den, digits)], r)


def test_zero_denominator_is_null(spark):
    v = (
        spark.range(1)
        .select(ratio_half_up(F.lit(5), F.lit(0), 4).alias("r"))
        .collect()[0]["r"]
    )
    assert v is None
    con = duckdb.connect()
    assert con.execute(f"SELECT {sql_ratio_half_up('5', '0', 4)}").fetchone()[0] is None
