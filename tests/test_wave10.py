"""Planted-semantics tests for the round-9 gate-top-up queries
(emb_covariance, events_seasonality, q_order_backlog,
text_keyphrases).  Each builder takes a plain sf_dir path, so planted
cases write a tiny parquet table into a tmpdir and run the REAL
builder on it — the same code path the driver gates."""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pytest
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from confidential_storm_spark.plans.queries import _PRICE_D, _SHARD_N
from confidential_storm_spark.sources import load_table


def _write(spark, tmp_path, name, df):
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/{name}.parquet")
    return str(tmp_path)


# ---------------------------------------------------------------- covariance


def test_emb_covariance_matches_numpy(spark, sf_dir):
    from confidential_storm_spark.plans.queries import EMB_DIM, emb_covariance

    rows = emb_covariance(spark, sf_dir).collect()
    X = np.stack(
        [
            np.asarray(r.embedding, dtype=np.float64)
            for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
        ]
    )
    ref = np.cov(X, rowvar=False, bias=True)  # population covariance
    assert len(rows) == EMB_DIM * (EMB_DIM + 1) // 2
    for r in rows:
        assert r.n == len(X)
        assert r.cov == pytest.approx(ref[r.i, r.j], abs=2e-6)
        assert r.i <= r.j  # upper triangle only


def test_emb_covariance_planted_exact(spark, tmp_path):
    from confidential_storm_spark.plans import queries as q

    # two points along dim0 only: var(dim0)=1, everything else 0
    d = q.EMB_DIM
    v0 = [2.0] + [0.0] * (d - 1)
    v1 = [4.0] + [0.0] * (d - 1)
    emb = spark.createDataFrame(
        [(0, v0, 0), (1, v1, 0)], "vec_id long, embedding array<double>, label long"
    )
    sf = _write(spark, tmp_path, "embeddings", emb)
    out = {(r.i, r.j): r.cov for r in q.emb_covariance(spark, sf).collect()}
    assert out[(0, 0)] == pytest.approx(1.0)  # pop var of {2,4}
    # no -0.0 anywhere (the value-hash trap the query normalizes away)
    for (i, j), c in out.items():
        if (i, j) != (0, 0):
            assert c == 0.0 and not math.copysign(1.0, c) < 0


# -------------------------------------------------------------- seasonality


def test_events_seasonality_planted(spark, tmp_path):
    from confidential_storm_spark.plans.queries import events_seasonality

    # 3 views on Sunday 5am (dayofweek=1), 1 view on Monday 6am
    rows = [
        (1, dt.datetime(2024, 1, 7, 5, 0), 1, "view", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 7, 5, 30), 2, "view", 1.0, "{}"),
        (3, dt.datetime(2024, 1, 7, 5, 59), 3, "view", 1.0, "{}"),
        (4, dt.datetime(2024, 1, 8, 6, 0), 1, "view", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    sf = _write(spark, tmp_path, "events", ev)
    out = {(r.dow, r.hour): (r.n_events, r.share) for r in events_seasonality(spark, sf).collect()}
    assert out[(1, 5)] == (3, 0.75)
    assert out[(2, 6)] == (1, 0.25)
    assert len(out) == 2


def test_events_seasonality_shares_sum_to_one(spark, sf_dir):
    from confidential_storm_spark.plans.queries import events_seasonality

    out = events_seasonality(spark, sf_dir).collect()
    by_type: dict[str, float] = {}
    for r in out:
        by_type[r.event_type] = by_type.get(r.event_type, 0.0) + r.share
    for t, s in by_type.items():
        assert s == pytest.approx(1.0, abs=1e-3), t


# ------------------------------------------------------------------ backlog


def test_q_order_backlog_planted(spark, tmp_path):
    from confidential_storm_spark.plans.queries import q_order_backlog

    orders = spark.createDataFrame(
        [
            (1, 10, "O", 100.0, dt.datetime(2024, 1, 5), "1-URGENT"),
            (2, 11, "O", 200.0, dt.datetime(2024, 2, 10), "1-URGENT"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    # order 1: two lines, shipped Jan and Mar; order 2: one line, shipped Mar
    li = spark.createDataFrame(
        [
            (1, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 1, 20)),
            (1, 2, 2, 2, 1.0, 10.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 3, 2)),
            (2, 3, 3, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 3, 15)),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    )
    _write(spark, tmp_path, "orders", orders)
    sf = _write(spark, tmp_path, "lineitem", li)
    out = {r.month: r for r in q_order_backlog(spark, sf).collect()}
    assert out["2024-01-01"].placed == 2 and out["2024-01-01"].shipped == 1
    assert out["2024-01-01"].backlog == 1
    assert out["2024-02-01"].placed == 1 and out["2024-02-01"].shipped == 0
    assert out["2024-02-01"].backlog == 2
    assert out["2024-03-01"].shipped == 2
    assert out["2024-03-01"].backlog == 0  # everything eventually ships


def test_q_order_backlog_ends_balanced(spark, sf_dir):
    from confidential_storm_spark.plans.queries import q_order_backlog

    rows = q_order_backlog(spark, sf_dir).collect()
    assert rows == sorted(rows, key=lambda r: r.month)
    last = rows[-1]
    # every line placed is eventually shipped in the generator
    assert last.cum_placed == last.cum_shipped
    assert last.backlog == 0


# --------------------------------------------------------------- keyphrases


def test_text_keyphrases_planted(spark, tmp_path):
    from confidential_storm_spark.plans.queries import text_keyphrases

    # stopword 'the' splits islands; 'red car' appears twice, 'red' once
    docs = spark.createDataFrame(
        [
            (0, "red car the red car", "en", "a", 19),
            (1, "the red", "en", "a", 7),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = _write(spark, tmp_path, "documents", docs)
    out = {r.phrase: r for r in text_keyphrases(spark, sf).collect()}
    # islands: doc0 -> ['red car', 'red car'], doc1 -> ['red']
    assert out["red car"].n_occurrences == 2
    assert out["red"].n_occurrences == 1
    # freq(red)=3, degree(red)=2+2+1=5; freq(car)=2, degree(car)=4
    # score(red car) = 5/3 + 2 = 11/3; score(red) = 5/3
    assert out["red car"].score == pytest.approx(5 / 3 + 2, abs=1e-6)
    assert out["red"].score == pytest.approx(5 / 3, abs=1e-6)


def test_text_keyphrases_registry_shape(spark, sf_dir):
    from confidential_storm_spark.plans.queries import _RAKE_TOP, text_keyphrases

    rows = text_keyphrases(spark, sf_dir).collect()
    assert 0 < len(rows) <= _RAKE_TOP
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)
    from confidential_storm_spark.functions.text import STOPWORDS

    for r in rows:
        assert not set(r.phrase.split()) & set(STOPWORDS)


# ----------------------------------------------------- round-10 head start


def test_q_customer_rfm_planted(spark, tmp_path):
    from confidential_storm_spark.plans.queries import q_customer_rfm

    # 5 customers, clearly ordered on all three axes -> one per quintile
    rows = []
    for c in range(1, 6):
        for o in range(c):  # frequency = c
            rows.append(
                (
                    c * 100 + o,
                    c,
                    "O",
                    float(100 * c),
                    dt.datetime(2024, 1, c),  # later last-order for bigger c
                    "1-URGENT",
                )
            )
    orders = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    sf = _write(spark, tmp_path, "orders", orders)
    out = {r.custkey: r for r in q_customer_rfm(spark, sf).collect()}
    assert out[5].recency_days == 0 and out[1].recency_days == 4
    # customer 5: most recent, most frequent, biggest spend -> 555
    assert out[5].segment == "555"
    assert out[1].segment == "111"
    assert out[3].frequency == 3
    assert out[3].monetary == pytest.approx(900.0)


def test_dedup_cluster_sizes_accounts_for_every_doc(spark, sf_dir):
    from confidential_storm_spark.plans.queries import dedup_cluster_sizes

    out = dedup_cluster_sizes(spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_docs for r in out) == n_docs  # partition of the corpus
    assert all(r.n_docs == r.size * r.n_clusters for r in out)
    assert [r.size for r in out] == sorted(r.size for r in out)


def test_q_part_growth_planted(spark, tmp_path):
    from confidential_storm_spark.plans.queries import q_part_growth

    part = spark.createDataFrame(
        [(1, "BrandA"), (2, "BrandB")], "p_partkey long, p_brand string"
    )
    # BrandA: 100 -> 200 (+1.0); BrandB: 100 -> 150 (+0.5)
    li_rows = [
        (1, 1, 1, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 1, 10)),
        (2, 1, 1, 1, 1.0, 200.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 2, 10)),
        (3, 2, 1, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 1, 15)),
        (4, 2, 1, 1, 1.0, 150.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 2, 15)),
    ]
    li = spark.createDataFrame(
        li_rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    )
    _write(spark, tmp_path, "part", part)
    sf = _write(spark, tmp_path, "lineitem", li)
    out = q_part_growth(spark, sf).collect()
    assert [(r.brand, r.growth_rank) for r in out] == [("BrandA", 1), ("BrandB", 2)]
    assert out[0].growth == pytest.approx(1.0)
    assert out[1].growth == pytest.approx(0.5)
    assert all(r.month == "2024-02-01" for r in out)


def test_docs_perplexity_eval_matches_hand_lm(spark, tmp_path):
    import math

    from confidential_storm_spark.operators.sampling import split_assign
    from confidential_storm_spark.plans.queries import (
        SPLIT_WEIGHTS,
        _PPLX_ALPHA,
        docs_perplexity_eval,
    )

    docs = spark.createDataFrame(
        [(i, "a b c a b " + ("x" if i % 3 == 0 else "y"), "en", "s", 11) for i in range(40)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = _write(spark, tmp_path, "documents", docs)
    out = {r.doc_id: r for r in docs_perplexity_eval(spark, sf).collect()}
    tags = {
        r.doc_id: r.split
        for r in split_assign(docs, SPLIT_WEIGHTS).select("doc_id", "split").collect()
    }
    texts = {r.doc_id: r.text for r in docs.collect()}
    train_ids = [i for i, s in tags.items() if s == "train"]
    val_ids = [i for i, s in tags.items() if s == "val"]
    assert set(out) == set(val_ids) and val_ids  # exactly the val split
    # replicate the LM by hand
    cbw: dict = {}
    cv: dict = {}
    vocab = set()
    for i in train_ids:
        ws = texts[i].split()
        vocab.update(ws)
        for v, w in zip(ws, ws[1:]):
            cbw[(v, w)] = cbw.get((v, w), 0) + 1
            cv[v] = cv.get(v, 0) + 1
    a, V = _PPLX_ALPHA, len(vocab)
    for i in val_ids:
        ws = texts[i].split()
        s = [
            -math.log((cbw.get((v, w), 0) + a) / (cv.get(v, 0) + a * V))
            for v, w in zip(ws, ws[1:])
        ]
        assert out[i].n_bigrams == len(s)
        assert out[i].cross_entropy == pytest.approx(sum(s) / len(s), abs=1e-6)


# ------------------------------------------- round-12 swap equivalence


def _q_customer_rfm_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The literal three-global-ntile-window form of `q_customer_rfm`
    (the declarative spec, single-partition windows over |customers|
    rows) — kept as the pytest oracle for the scalable decomposition
    the registry entry now runs."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("_last"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum(F.col("o_totalprice").cast(_PRICE_D)), 2)
        .cast("double")
        .alias("monetary"),
    )
    corpus_max = orders.agg(F.max("o_orderdate").alias("_maxd"))
    base = base.crossJoin(F.broadcast(corpus_max)).withColumn(
        "recency_days", F.datediff("_maxd", "_last")
    )
    r_w = Window.orderBy(F.col("recency_days").desc(), "custkey")
    f_w = Window.orderBy(F.col("frequency").asc(), "custkey")
    m_w = Window.orderBy(F.col("monetary").asc(), "custkey")
    scored = base.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(5).over(r_w).alias("r_score"),
        F.ntile(5).over(f_w).alias("f_score"),
        F.ntile(5).over(m_w).alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.concat(F.col("r_score"), F.col("f_score"), F.col("m_score")).cast("string"),
    ).orderBy("custkey")


def _shard_boundaries_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The literal global-NTILE-window form of `shard_boundaries` (the
    declarative spec, single-partition window over the orders fact) —
    kept as the pytest oracle for the scalable decomposition the
    registry entry now runs."""
    orders = load_table(spark, sf_dir, "orders")
    wnd = Window.orderBy("o_orderdate", "o_orderkey")
    t = orders.select(
        "o_orderkey",
        "o_orderdate",
        F.ntile(_SHARD_N).over(wnd).alias("shard"),
    )
    return (
        t.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("date_lo"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("date_hi"),
            F.min("o_orderkey").alias("key_lo"),
            F.max("o_orderkey").alias("key_hi"),
        )
        .orderBy("shard")
    )


def test_q_customer_rfm_matches_window_form(spark, sf_dir):
    """Round-12 swap (VERDICT r11 #3): the registry entry now computes
    via the spectrum-cumsum decomposition; it must stay row-identical
    to the literal three-global-ntile-window form it replaced."""
    from confidential_storm_spark.plans.queries import q_customer_rfm

    got = [tuple(r) for r in q_customer_rfm(spark, sf_dir).collect()]
    want = [tuple(r) for r in _q_customer_rfm_window(spark, sf_dir).collect()]
    assert got == want and got


def test_shard_boundaries_matches_window_form(spark, sf_dir):
    """Same swap for the shard planner: spectrum cumsum + boundary-date
    refinement must reproduce the global-NTILE window relation."""
    from confidential_storm_spark.plans.queries import shard_boundaries

    got = [tuple(r) for r in shard_boundaries(spark, sf_dir).collect()]
    want = [tuple(r) for r in _shard_boundaries_window(spark, sf_dir).collect()]
    assert got == want and got
