"""Two-level prefix sum == naive global window, and plan stays spread."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from iheardai_data_pipeline_spark.operators.packing import (
    token_budget_shards,
    with_global_running_total,
)


def _naive(df, order_col, value_col):
    w = Window.orderBy(order_col).rowsBetween(Window.unboundedPreceding, -1)
    return df.withColumn(
        "start_offset", F.coalesce(F.sum(value_col).over(w), F.lit(0)).cast("long")
    )


def test_matches_naive_global_cumsum(spark):
    # ids with gaps + values crossing bucket boundaries; bucket_size
    # small so many buckets are exercised, incl. empty ones
    rows = [(i * 7 % 997, (i * 13) % 50) for i in range(500)]
    rows = [(k, v) for k, v in dict(rows).items()]  # unique keys
    df = spark.createDataFrame(rows, "doc_id long, n long")
    got = (
        with_global_running_total(df, "doc_id", "n", bucket_size=16)
        .orderBy("doc_id")
        .collect()
    )
    want = _naive(df, "doc_id", "n").orderBy("doc_id").collect()
    assert [(r["doc_id"], r["start_offset"]) for r in got] == [
        (r["doc_id"], r["start_offset"]) for r in want
    ]


def test_shard_assignment_boundaries(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 10)], "doc_id long, n long"
    )
    out = {
        r["doc_id"]: r["shard_id"]
        for r in token_budget_shards(df, "doc_id", "n", budget=25, bucket_size=2).collect()
    }
    # starts: 0, 10, 20, 30 -> shards 0, 0, 0, 1
    assert out == {1: 0, 2: 0, 3: 0, 4: 1}


def test_no_global_window_on_corpus(spark):
    import re

    df = spark.createDataFrame([(i, 1) for i in range(100)], "doc_id long, n long")
    plan = (
        with_global_running_total(df, "doc_id", "n")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # A no-partition window over the corpus would render as
    # windowspecdefinition(doc_id#N ASC ...) — the order column first.
    # The corpus-side window must lead with the __bucket partition key;
    # the only permitted no-partition window is over the bucket totals
    # (leads with __bucket as its ORDER key).
    specs = re.findall(r"windowspecdefinition\((\w+)#", plan)
    assert specs, plan
    assert all(s == "__bucket" for s in specs), specs


# --- best-fit-decreasing packing (round 8) -----------------------------------------


def _bfd_reference(items, cap):
    """Driver-side BFD: items (id, sz), sorted (sz desc, id asc);
    best fit = smallest adequate residual, ties to lowest bin id."""
    bins = []  # free per bin
    out = {}
    for _id, sz in sorted(items, key=lambda t: (-t[1], t[0])):
        fits = [(free, b) for b, free in enumerate(bins) if free >= sz]
        if fits:
            _, b = min(fits)
            bins[b] -= sz
        else:
            b = len(bins)
            bins.append(cap - sz)
        out[_id] = b
    return out, len(bins)


class TestBfdPack:
    def _df(self, spark, groups):
        rows = [
            (g, i, s) for g, items in groups.items() for i, s in items
        ]
        return spark.createDataFrame(rows, "grp string, doc_id long, sz long")

    def test_matches_reference_per_group(self, spark):
        from iheardai_data_pipeline_spark.operators.packing import bfd_pack

        groups = {
            "a": [(1, 6), (2, 4), (3, 7), (4, 3), (5, 3), (6, 12), (7, 2)],
            "b": [(10, 5), (11, 5), (12, 5), (13, 1)],
            "c": [(20, 10)],
        }
        got = {
            (r["grp"], r["doc_id"]): (r["bin_id"], r["n_bins"])
            for r in bfd_pack(
                self._df(spark, groups), "grp", "doc_id", "sz", 10
            ).collect()
        }
        for g, items in groups.items():
            want, n_bins = _bfd_reference(items, 10)
            for _id, b in want.items():
                assert got[(g, _id)] == (b, n_bins), (g, _id)

    def test_oversize_item_gets_own_bin_and_never_shares(self, spark):
        from iheardai_data_pipeline_spark.operators.packing import bfd_pack

        # the oversize 12 opens bin 0 (negative residual) and nothing
        # else may ever land there
        groups = {"a": [(1, 12), (2, 1), (3, 1)]}
        rows = bfd_pack(
            self._df(spark, groups), "grp", "doc_id", "sz", 10
        ).collect()
        by_id = {r["doc_id"]: r["bin_id"] for r in rows}
        assert by_id[1] == 0 and by_id[2] == 1 and by_id[3] == 1

    def test_capacity_respected_and_bound(self, spark):
        """No bin exceeds capacity (oversize singletons aside), and the
        bin count respects the BFD guarantee n <= (11*OPT + 6)/9 with
        OPT >= ceil(total/cap)."""
        from iheardai_data_pipeline_spark.operators.packing import bfd_pack

        items = [(i, (i * 37) % 9 + 1) for i in range(200)]
        rows = bfd_pack(
            self._df(spark, {"g": items}), "grp", "doc_id", "sz", 10
        ).collect()
        fill = {}
        for r in rows:
            fill[r["bin_id"]] = fill.get(r["bin_id"], 0) + r["sz"]
        assert all(v <= 10 for v in fill.values())
        total = sum(s for _, s in items)
        lb = -(-total // 10)
        n_bins = rows[0]["n_bins"]
        assert n_bins * 9 <= 11 * lb + 6
