"""operators/ranks.py: the distributed prefix scan and chunked
log-rank sums must match a straightforward numpy oracle, including
chunk boundaries (class sizes around the 64k chunk) and tie classes.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from confidential_storm_spark.operators.ranks import (
    attach_rank_ranges,
    log_rank_power_sums,
)
from confidential_storm_spark.sources import load_table


def _spectrum(spark, pairs):
    return spark.createDataFrame(pairs, "_c bigint, _m bigint")


def test_rank_ranges_match_sorted_cumsum(spark):
    rng = np.random.default_rng(11)
    counts = rng.choice(10_000, size=500, replace=False) + 1
    sizes = rng.integers(1, 50, size=500)
    got = {
        r["_c"]: (r["_m"], r["_start"])
        for r in attach_rank_ranges(
            _spectrum(spark, [(int(c), int(m)) for c, m in zip(counts, sizes)])
        ).collect()
    }
    order = np.argsort(-counts)
    start = 0
    for i in order:
        assert got[int(counts[i])] == (int(sizes[i]), start)
        start += int(sizes[i])


def test_rank_ranges_single_partition_input(spark):
    # fewer rows than cores: the scan must not lose or double-count
    ranged = attach_rank_ranges(_spectrum(spark, [(5, 2), (9, 3), (1, 4)]))
    got = {r["_c"]: r["_start"] for r in ranged.collect()}
    assert got == {9: 0, 5: 3, 1: 5}


@pytest.mark.parametrize("m", [1, 7, 1 << 16, (1 << 16) + 1, 200_000])
def test_log_rank_sums_cross_chunk_boundaries(spark, m):
    start = 12_345
    ranged = spark.createDataFrame([(3, m, start)], "_c bigint, _m bigint, _start bigint")
    rows = log_rank_power_sums(ranged).collect()
    r = np.arange(start + 1, start + m + 1, dtype=np.float64)
    ln = np.log(r)
    assert sum(x["_chunk_m"] for x in rows) == m
    assert sum(x["_sum_ln"] for x in rows) == pytest.approx(ln.sum(), rel=1e-12)
    assert sum(x["_sum_ln2"] for x in rows) == pytest.approx((ln * ln).sum(), rel=1e-12)


def test_spectrum_regression_equals_rowwise_fit(spark):
    """End-to-end: the spectrum-form sums reproduce the naive
    rank-every-word regression exactly (same (rank, count) multiset)."""
    rng = np.random.default_rng(3)
    counts = np.sort(rng.zipf(1.5, size=2_000).astype(np.int64))[::-1]
    spec = {}
    for c in counts:
        spec[int(c)] = spec.get(int(c), 0) + 1
    ranged = attach_rank_ranges(_spectrum(spark, sorted(spec.items())))
    rows = log_rank_power_sums(ranged).collect()
    sx = sum(x["_sum_ln"] for x in rows)
    sxx = sum(x["_sum_ln2"] for x in rows)
    sy = sum(x["_chunk_m"] * math.log(x["_c"]) for x in rows)
    sxy = sum(x["_sum_ln"] * math.log(x["_c"]) for x in rows)
    n = sum(x["_chunk_m"] for x in rows)

    r = np.arange(1, len(counts) + 1, dtype=np.float64)
    X, Y = np.log(r), np.log(counts.astype(np.float64))
    assert n == len(counts)
    assert sx == pytest.approx(X.sum(), rel=1e-12)
    assert sy == pytest.approx(Y.sum(), rel=1e-12)
    assert sxy == pytest.approx((X * Y).sum(), rel=1e-9)
    assert sxx == pytest.approx((X * X).sum(), rel=1e-12)


def test_rank_ranges_ascending_chronological(spark):
    """ascending=True gives start = #items in strictly-SMALLER key
    classes — the chronological cumsum the shard planner scans."""
    import numpy as np

    from confidential_storm_spark.operators.ranks import attach_rank_ranges

    rng = np.random.default_rng(5)
    rows = [(int(k), int(m)) for k, m in zip(range(40), rng.integers(1, 9, 40))]
    df = spark.createDataFrame(rows, "_c int, _m long")
    got = {r._c: r._start for r in attach_rank_ranges(df, ascending=True).collect()}
    acc = 0
    for k, m in sorted(rows):
        assert got[k] == acc, (k, got[k], acc)
        acc += m


def _ntile_ref(rows, n):
    """groupBy-shard reference via the NTILE law over sorted rows."""
    rows = sorted(rows)
    N = len(rows)
    base, big = divmod(N, n)
    out = {}
    for i, (c, f) in enumerate(rows, 1):
        if base == 0:
            s = i
        elif i <= big * (base + 1):
            s = -(-i // (base + 1))
        else:
            s = big + (-(-(i - big * (base + 1)) // base))
        agg = out.setdefault(s, [0, c, c, f, f])
        agg[0] += 1
        agg[1], agg[2] = min(agg[1], c), max(agg[2], c)
        agg[3], agg[4] = min(agg[3], f), max(agg[4], f)
    return {s: tuple(v) for s, v in out.items()}


@pytest.mark.parametrize("n_rows,n_shards", [(500, 32), (97, 8), (10, 32), (64, 64)])
def test_range_shard_boundaries_match_ntile_law(spark, n_rows, n_shards):
    """range_shard_boundaries is row-identical to global-window NTILE
    + groupBy for even splits, ragged splits (N % n != 0), N < n, and
    N == n — without any unpartitioned window in its plan."""
    import numpy as np

    from confidential_storm_spark.operators.ranks import range_shard_boundaries

    rng = np.random.default_rng(n_rows)
    # ~20 coarse classes so several shards share a class and several
    # classes span shards
    rows = [(int(rng.integers(0, 20)), i * 7 % 1009) for i in range(n_rows)]
    df = spark.createDataFrame(rows, "day int, key int")
    got = {
        r.shard: (r.n_rows, r.coarse_lo, r.coarse_hi, r.fine_lo, r.fine_hi)
        for r in range_shard_boundaries(df, "day", "key", n_shards).collect()
    }
    assert got == _ntile_ref(rows, n_shards)
    plan = (
        range_shard_boundaries(df, "day", "key", n_shards)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "No Partition Defined" not in plan
    for line in plan.splitlines():
        if "Window [" in line:
            assert "partitionBy" in line or "windowspecdefinition(day" in line, line


@pytest.mark.parametrize(
    "descending,n_tiles,pin",
    [(False, 5, True), (True, 5, True), (False, 7, True), (False, 5, False)],
)
def test_attach_ntile_matches_global_window(spark, descending, n_tiles, pin):
    """attach_ntile is row-identical to NTILE(n) OVER (ORDER BY value
    [DESC], tie) — with heavy duplicate value classes straddling tile
    boundaries — and its plan has no unpartitioned window."""
    import numpy as np
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from confidential_storm_spark.operators.ranks import attach_ntile

    rng = np.random.default_rng(int(descending) * 10 + n_tiles)
    # 12 distinct values over 300 rows: every tile boundary lands
    # inside some duplicate class
    rows = [(i, int(rng.integers(0, 12))) for i in range(300)]
    df = spark.createDataFrame(rows, "tie long, value int")
    order = [F.col("value").desc() if descending else F.col("value").asc(), "tie"]
    expect = {
        (r.tie): r.s
        for r in df.select(
            "tie", F.ntile(n_tiles).over(W.orderBy(*order)).alias("s")
        ).collect()
    }
    if not pin:
        # pin=False contract: caller has already pinned the relation
        df = df.localCheckpoint(eager=True)
    got_df = attach_ntile(
        df, "value", "tie", n_tiles, "s", descending=descending, pin=pin
    )
    got = {r.tie: r.s for r in got_df.collect()}
    assert got == expect
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "No Partition Defined" not in plan


def test_attach_ntile_derived_partitions_matches_explicit(spark):
    """The n_total-derived spectrum partition count (round-11: clamp
    (n_total/20k, 2, defaultParallelism)) is output-identical to an
    explicit num_partitions — partitioning is an execution detail."""
    import numpy as np

    from confidential_storm_spark.operators.ranks import attach_ntile

    rng = np.random.default_rng(11)
    rows = [(i, int(rng.integers(0, 40))) for i in range(500)]
    df = spark.createDataFrame(rows, "tie long, value int").localCheckpoint(
        eager=True
    )
    derived = attach_ntile(df, "value", "tie", 5, "s", n_total=500, pin=False)
    explicit = attach_ntile(
        df, "value", "tie", 5, "s", n_total=500, num_partitions=7, pin=False
    )
    assert {(r.tie, r.s) for r in derived.collect()} == {
        (r.tie, r.s) for r in explicit.collect()
    }


def test_attach_rank_ranges_extra_size_cols(spark):
    """extra_size_cols prefix-sums additional columns in the same scan
    (round-12: the coverage-curve mass cumsum rides the size cumsum)."""
    from confidential_storm_spark.operators.ranks import attach_rank_ranges

    rows = [(c, m, c * m) for c, m in [(5, 2), (4, 3), (2, 1), (1, 10)]]
    df = spark.createDataFrame(rows, "c long, m long, mass long")
    got = {
        r.c: (r._start, r.mass_start)
        for r in attach_rank_ranges(
            df, count_col="c", size_col="m", extra_size_cols=("mass",)
        ).collect()
    }
    # descending scan order: 5, 4, 2, 1
    assert got == {5: (0, 0), 4: (2, 10), 2: (5, 22), 1: (6, 24)}


def _text_vocab_coverage_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The literal global-window form of `text_vocab_coverage` (cumsum
    under a total order, single sorted partition) — kept as the pytest
    oracle for the spectrum decomposition the registry entry now
    runs."""
    from confidential_storm_spark.functions.text import explode_words

    wc = (
        explode_words(load_table(spark, sf_dir, "documents"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = wc.agg(F.sum("n").alias("_t"))
    order = [F.desc("n"), F.col("word")]
    w_rank = Window.orderBy(*order)
    w_cum = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    return (
        wc.crossJoin(F.broadcast(tot))
        .select(
            F.row_number().over(w_rank).alias("rank"),
            "word",
            "n",
            F.round(F.sum("n").over(w_cum) / F.col("_t"), 6).alias("cum_share"),
        )
        .orderBy("rank")
    )


def test_text_vocab_coverage_matches_window_form(spark, sf_dir):
    """Round-12 swap: the registry entry computes rank and cumulative
    share from the frequency spectrum (no unpartitioned window); it
    must stay row-identical to the literal global-window form."""
    from confidential_storm_spark.plans.queries import text_vocab_coverage

    got = [tuple(r) for r in text_vocab_coverage(spark, sf_dir).collect()]
    want = [tuple(r) for r in _text_vocab_coverage_window(spark, sf_dir).collect()]
    assert got == want and got
