"""The workloads.  Each one generates its inputs from the seed in
``setup``, checks the library's output once in ``check``, and times
closed-loop passes in ``run_pass``: the whole input exists at start and
each pass, epoch or query starts when the previous one has finished."""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from confidential_storm_spark.dp.mechanism import StreamingDPMechanism
from confidential_storm_spark.functions.envelope import aad_json, open_sealed, seal
from confidential_storm_spark.functions.text import words
from confidential_storm_spark.operators.bounding import bounded_clamped
from confidential_storm_spark.operators.dp_batch import DPParams, dp_histogram_batch
from confidential_storm_spark.plans.queries import build_oracles, build_queries
from confidential_storm_spark.plans.wordcount import WORDCOUNT_PARAMS, run_wordcount_two_stage
from confidential_storm_spark.sources import TABLES, load_table

from . import data

DP_SEED = 20240601  # fixed mechanism seed: noise is reproducible across runs


class Workload:
    name = ""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.layers: dict[str, float] = {}  # per-layer numbers measured in set-up

    def setup(self, spark) -> None:
        raise NotImplementedError

    def check(self, spark) -> list[str]:
        """Run the program once on the inputs and compare its output with
        a reference computed here; return one message per mismatch."""
        raise NotImplementedError

    def run_pass(self, spark, tracer) -> dict:
        """One timed pass; returns ``{"ops": [latency_s...], "failed": n}``
        plus any workload-specific numbers."""
        raise NotImplementedError

    def probes(self, spark, tracer) -> list[str]:
        """Traced run only: per-layer probes outside the timed passes;
        returns one message per failed check."""
        return []


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _l2(released: dict, exact: dict) -> float:
    keys = set(released) | set(exact)
    return math.sqrt(sum((released.get(k, 0) - exact.get(k, 0)) ** 2 for k in keys))


# ----------------------------------------------------------------------
# wordcount_stream: the confidential word-count topology
# ----------------------------------------------------------------------
class WordcountStream(Workload):
    """Sealed documents -> ``open_sealed`` -> the two-stage streaming
    word-count topology with ``availableNow``, one epoch file per
    micro-batch."""

    name = "wordcount_stream"
    # 800 documents (about 43 k words) per epoch and 10 per user, the
    # sf0.1 corpus's 5 000 documents over 500 users in 6 epochs, cut to
    # the 2 epochs a run has time for
    N_DOCS, N_USERS, N_EPOCHS = 1600, 160, 2
    KEY = hashlib.sha256(b"e2ebench wordcount").digest()  # AES-256

    def setup(self, spark) -> None:
        t0 = time.perf_counter()
        self.params = DPParams.from_budget(
            WORDCOUNT_PARAMS["epsilon"],
            WORDCOUNT_PARAMS["delta"],
            c=WORDCOUNT_PARAMS["c"],
            t=WORDCOUNT_PARAMS["t"],
            mu=WORDCOUNT_PARAMS["mu"],
            seed=DP_SEED,
        )
        self.layers["calibration.s"] = time.perf_counter() - t0
        docs = data.wordcount_documents(self.seed, self.N_DOCS, self.N_USERS, self.N_EPOCHS)
        self.docs = docs
        root = _fresh(f"{self.work}/wc")
        src = _fresh(f"{root}/src")
        t0 = time.perf_counter()
        plain = spark.createDataFrame(docs.assign(user_id=docs.user_id.astype(str)))
        sealed = plain.select(
            "epoch",
            "user_id",
            seal(
                F.col("text"),
                F.lit(self.KEY),
                aad_json(F.lit("spout"), F.lit("split"), F.col("user_id"), F.col("seq"), F.col("epoch")),
            ).alias("env"),
        )
        sealed.repartition(1).write.partitionBy("epoch").parquet(f"{root}/sealed")
        self.layers["envelope.seal_s"] = time.perf_counter() - t0
        # one file per epoch, modification times in epoch order: the file
        # source with maxFilesPerTrigger=1 admits files oldest first
        base = time.time() - 3600
        for e in range(self.N_EPOCHS):
            part_dir = f"{root}/sealed/epoch={e}"
            (part,) = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
            dst = f"{src}/e{e:03d}.parquet"
            os.rename(f"{part_dir}/{part}", dst)
            os.utime(dst, (base + e, base + e))
        self.src = src
        self.schema = "user_id string, env struct<aad:string,nonce:binary,ciphertext:binary>"

    def _run(self, spark, params) -> tuple[list, float]:
        root = f"{self.work}/wc"
        stage = _fresh(f"{root}/stage")
        ckpt = _fresh(f"{root}/ckpt")
        stream = spark.readStream.schema(self.schema).option("maxFilesPerTrigger", 1).parquet(self.src)
        docs = stream.select("user_id", open_sealed(F.col("env"), F.lit(self.KEY)).alias("text"))
        t0 = time.perf_counter()
        out = run_wordcount_two_stage(docs, stage, ckpt, params=params, await_secs=150)
        return out, time.perf_counter() - t0

    @staticmethod
    def _final_histogram(collected: list) -> dict:
        hist: dict[str, int] = {}
        for _bid, rows in sorted(collected, key=lambda x: x[0]):
            for r in rows:
                hist[r["key"]] = int(r["count"])
        return hist

    def check(self, spark) -> list[str]:
        toks = self.docs.text.str.split(" ")
        self.exact = toks.explode().value_counts().to_dict()
        per_user = toks.str.len().groupby(self.docs.user_id).sum()
        bounded_total = int(np.minimum(per_user.to_numpy(), WORDCOUNT_PARAMS["c"]).sum())
        zero = DPParams.zero_noise(t=WORDCOUNT_PARAMS["t"], mu=0, c=WORDCOUNT_PARAMS["c"])
        collected, _ = self._run(spark, zero)
        hist = self._final_histogram(collected)
        bad = []
        if sum(hist.values()) != bounded_total:
            bad.append(f"wordcount: released total {sum(hist.values())} != bounded total {bounded_total}")
        over = [k for k, v in hist.items() if v > self.exact.get(k, 0)]
        if over:
            bad.append(f"wordcount: {len(over)} keys released above their exact count")
        return bad

    def run_pass(self, spark, tracer) -> dict:
        tracer.listener.clear()
        try:
            collected, dt = self._run(spark, self.params)
        except Exception as ex:  # a failed pass fails all its epochs
            return {"ops": [], "failed": self.N_EPOCHS, "error": repr(ex), "pass_s": None}
        batches = tracer.listener.wait_for(2 * self.N_EPOCHS)
        stage1 = [p for p in batches if "/stage" not in p["source"]]
        stage2 = [p for p in batches if "/stage" in p["source"]]
        s1 = {p["batchId"]: p for p in stage1}
        s2 = {p["batchId"]: p for p in stage2}
        epochs = [
            (s1[b]["durationMs"]["triggerExecution"] + s2[b]["durationMs"]["triggerExecution"]) / 1e3
            for b in sorted(set(s1) & set(s2))
        ]
        hist = self._final_histogram(collected)
        return {
            "ops": epochs,
            "failed": self.N_EPOCHS - len(epochs),
            "pass_s": dt,
            "stage1": stage1,
            "stage2": stage2,
            "sink_rows": sum(len(rows) for _bid, rows in collected),
            "keys_released": len(hist),
            "l2_error": _l2(hist, self.exact),
        }

    def probes(self, spark, tracer) -> list[str]:
        sealed = spark.read.schema(self.schema).parquet(self.src)
        n_docs = len(self.docs)
        with tracer.span("envelope.open") as sp:
            sealed.select(F.sum(F.length(open_sealed(F.col("env"), F.lit(self.KEY))))).collect()
        self.layers["envelope.open_rps"] = n_docs / sp.duration
        plain = spark.createDataFrame(self.docs[["text"]])
        plain.cache().count()
        n_words = int(self.docs.text.str.count(" ").sum()) + n_docs
        with tracer.span("text.words") as sp:
            plain.select(F.sum(F.size(words(F.col("text"))))).collect()
        self.layers["text.words_rps"] = n_words / sp.duration
        plain.unpersist()
        return []


# ----------------------------------------------------------------------
# batch_dp: DP-SQLP §5.1 utility workload
# ----------------------------------------------------------------------
class BatchDP(Workload):
    """``bounded_clamped`` then ``dp_histogram_batch`` over the §5.1
    Zipf generator, collected to the driver."""

    name = "batch_dp"
    # a quarter of the §5.1 contribution count (50 000 users, about
    # 300 k contributions) over 300 keys; DESIGN.md has the sizing
    N_USERS, N_KEYS, C, T = 50_000, 300, 32, 100

    def setup(self, spark) -> None:
        t0 = time.perf_counter()
        self.params = DPParams.from_budget(6.0, 1e-9, c=self.C, t=self.T, mu=0, seed=DP_SEED)
        self.layers["calibration.s"] = time.perf_counter() - t0
        pdf = data.dp_contributions(self.seed, self.N_USERS, self.N_KEYS, self.C, self.T)
        self.pdf = pdf
        self.path = f"{_fresh(f'{self.work}/dp')}/contribs.parquet"
        pdf.to_parquet(self.path, index=False)
        self.exact = pdf.groupby("key")["value"].sum().astype(int).to_dict()

    def _histogram(self, spark, params) -> dict:
        df = spark.read.parquet(self.path)
        rows = dp_histogram_batch(bounded_clamped(df, self.C, 1.0), params).collect()
        return {r["key"]: int(r["count"]) for r in rows}

    def check(self, spark) -> list[str]:
        hist = self._histogram(spark, DPParams.zero_noise(t=self.T, mu=0, c=self.C))
        if hist != self.exact:
            diff = sum(1 for k in set(hist) | set(self.exact) if hist.get(k) != self.exact.get(k))
            return [f"batch_dp: sigma=0 histogram differs from exact sums on {diff} keys"]
        return []

    def run_pass(self, spark, tracer) -> dict:
        t0 = time.perf_counter()
        try:
            hist = self._histogram(spark, self.params)
        except Exception as ex:
            return {"ops": [], "failed": 1, "error": repr(ex), "pass_s": None}
        dt = time.perf_counter() - t0
        return {
            "ops": [dt],
            "failed": 0,
            "pass_s": dt,
            "keys_released": len(hist),
            "l2_error": _l2(hist, self.exact),
        }

    def probes(self, spark, tracer) -> list[str]:
        df = spark.read.parquet(self.path)
        with tracer.span("bounding") as sp:
            (n_out,) = bounded_clamped(df, self.C, 1.0).agg(F.count("value")).first()
        self.layers["bounding.s"] = sp.duration
        self.layers["bounding.rows_in"] = len(self.pdf)
        self.layers["bounding.rows_out"] = n_out
        # single-threaded baseline: the same windowed input through the
        # mechanism on the driver, epoch by epoch
        g = self.pdf.groupby(["epoch", "key"], sort=True)
        windows = pd.DataFrame({"total": g["value"].sum(), "users": g["user_id"].agg(set)})
        self.layers["dp_batch.windowed_rows"] = len(windows)
        by_epoch = {e: list(w.itertuples()) for e, w in windows.groupby(level=0)}
        p = self.params
        mech = StreamingDPMechanism(
            p.sigma_key, p.sigma_hist, p.threshold_quantile, p.max_time_steps, p.mu,
            p.max_contributions_per_user, seed=DP_SEED,
        )
        with tracer.span("mechanism.core") as sp:
            for e in range(self.T):
                for row in by_epoch.get(e, ()):
                    mech.add_window(row.Index[1], row.total, row.users)
                mech.snapshot()
        self.layers["mechanism.core_s"] = sp.duration
        self.layers["mechanism.snapshots"] = self.T
        self.layers["mechanism.key_steps"] = len(windows)
        # the registry floor rides on this workload's traced run (DESIGN.md)
        return registry_floor(spark, tracer, self.seed, self.layers)


# ----------------------------------------------------------------------
# registry floor: measured in batch_dp's traced run
# ----------------------------------------------------------------------
TABLE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables")

# One query from each of the eight fastest deciles of the registry (by
# warm time at sf0.001 on local[4], drawn with random.Random(0)), plus
# dp_zero_noise_full, which runs operators.dp_batch.  Queries that read
# or build a standing artifact (IVF indexes, the topology graph) are
# not eligible: the library keeps those under a fixed directory
# outside the working tree.
REGISTRY_QUERIES = (
    "q_top_orders_per_customer",
    "q_skew_profile",
    "q_median_order_value",
    "emb_project",
    "dedup_bloom",
    "q_conversion_funnel",
    "events_trend_fit",
    "stream_decay_topk_replay",
    "dp_zero_noise_full",
)


def registry_floor(spark, tracer, seed: int, layers: dict) -> list[str]:
    """Per-layer probe of the query registry's driver floor: load the
    sf0.001 test tables in ``tables/`` through ``sources``, check each
    query of ``REGISTRY_QUERIES`` once against its DuckDB oracle (the
    check is also the cold pass), then build and ``count()`` each once
    more, in an order drawn from the seed, one span per query.  Fills
    ``sources.*`` and ``plans.*`` in ``layers``; returns one message
    per failed check or query."""
    import duckdb
    from tools.check_correctness import value_hash

    with tracer.span("sources.load") as sp:
        layers["sources.input_records"] = sum(
            load_table(spark, TABLE_DIR, t).count() for t in TABLES
        )
    layers["sources.load_s"] = sp.duration
    layers["sources.input_bytes"] = sum(
        os.path.getsize(f"{TABLE_DIR}/{t}.parquet") for t in TABLES
    )
    builders, oracles = build_queries(), build_oracles()
    order = np.random.default_rng((seed, 2)).permutation(len(REGISTRY_QUERIES))
    queries = [REGISTRY_QUERIES[i] for i in order]

    bad = []
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{TABLE_DIR}/{t}.parquet'")
    for name in queries:
        try:
            got = builders[name](spark, TABLE_DIR).toPandas()
        except Exception as ex:
            bad.append(f"registry: {name} raised {ex!r}"[:500])
            continue
        want = con.execute(oracles[name]).df()
        if sorted(got.columns) != sorted(want.columns) or value_hash(got) != value_hash(want):
            bad.append(f"registry: {name} differs from its DuckDB oracle")
    con.close()

    ops, builds, execs = [], [], []
    with tracer.span("registry") as reg:
        for name in queries:
            with tracer.span(f"query.{name}"):
                t0 = time.perf_counter()
                try:
                    df = builders[name](spark, TABLE_DIR)
                    t1 = time.perf_counter()
                    df.count()
                except Exception as ex:
                    bad.append(f"registry: {name} raised {ex!r}"[:500])
                    continue
                t2 = time.perf_counter()
            ops.append(t2 - t0)
            builds.append(t1 - t0)
            execs.append(t2 - t1)
    layers["plans.pass_s"] = reg.duration
    layers["plans.build_s"] = sum(builds)
    layers["plans.build_p50_s"] = statistics.median(builds) if builds else 0.0
    layers["plans.exec_s"] = sum(execs)
    layers["plans.query_p50_s"] = statistics.median(ops) if ops else 0.0
    layers["plans.query_p90_s"] = max(ops) if len(ops) < 10 else statistics.quantiles(ops, n=10)[-1]
    return bad


WORKLOADS = {w.name: w for w in (WordcountStream, BatchDP)}
