"""Batch DP-SQLP pipeline as a Spark operator (SURVEY §7 Phase 2).

The epoch dimension comes from the data (``epoch`` column); per key the
mechanism must see epochs **in order** with that key's per-epoch totals
and new-unique-user information.  The plan:

1. JVM-side pre-aggregation into a SKEW-SAFE sufficient statistic: the
   mechanism only ever needs "how many of this window's users are NEW
   this round", and a user is new iff their PREVIOUS contribution epoch
   for the key precedes the round start.  So instead of shipping
   ``collect_set(user_id)`` (one unbounded array per (key, epoch) — a
   task-OOM at a hot key with millions of users), we ship per
   (key, epoch) the counts of users grouped by previous-contribution
   epoch: at most T+1 counters regardless of key cardinality, computed
   entirely with built-ins (``collect_set(epoch)`` per (key, user) is
   bounded by C, the contribution bound enforced upstream).
2. ``groupBy(bucket).applyInPandas`` — keys are hash-bucketed so one
   Python worker invocation runs the Algorithm 1-3 state machine for
   *many* keys (amortizing the Arrow + interpreter cost), mirroring
   how one reference DP-bolt replica owns many keys' trees
   (StreamingDPMechanism.java:34-72).  State per key = two numpy
   trees + <= T+1 round counters — nothing user-proportional.
   The buckets are first repartitioned by number into one task per
   core (``min(num_buckets, defaultParallelism)``): AQE never
   coalesces that exchange (left to itself it folds this small input
   into ONE task), and ``groupBy(bucket)`` reuses its partitioning.
   ``num_buckets`` is the noise-seeding and state unit, not the task
   count — every Python task has a fixed cost, so a task per bucket
   is slower than a task per core.
3. The released histogram (one row per released key) is sorted in a
   single partition.  A global ``orderBy`` would range-partition it,
   and its sampling job re-runs the whole mechanism stage; this way
   the mechanism runs exactly once per action.

Scale: the bucket count bounds per-task state; at 100 TB the bucket
column doubles as the shuffle key so skewed keys spread by hash, and
the per-(key, epoch) rows entering the pandas stage are O(|keys| x T),
never O(events) or O(users).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dp.calibration import CompositionMode, calibrate
from ..dp.mechanism import StreamingDPMechanism

__all__ = ["DPParams", "dp_histogram_batch"]


@dataclass(frozen=True)
class DPParams:
    """Mechanism parameters (mirrors the reference's DPConfig +
    calibration output).

    ``seed`` defaults to ``None`` = fresh OS entropy per run, the only
    safe production setting: with a fixed, known seed the Gaussian tree
    noise is fully predictable and can be subtracted, voiding the DP
    guarantee (the reference uses SecureRandom for exactly this
    reason).  Pass an explicit seed ONLY for tests and benchmarks that
    need reproducible noise."""

    sigma_key: float
    sigma_hist: float
    threshold_quantile: float
    max_time_steps: int
    mu: int
    max_contributions_per_user: int
    per_record_clamp: float = 1.0
    seed: int | None = None

    @classmethod
    def from_budget(
        cls,
        epsilon: float,
        delta: float,
        c: int,
        t: int,
        mu: int,
        per_record_clamp: float = 1.0,
        alpha: float = 0.5,
        composition: CompositionMode = CompositionMode.ZCDP_LINEAR,
        seed: int | None = None,
    ) -> "DPParams":
        """Paper budget split: eps_k = eps_h = eps/2, delta_k = 2delta/3,
        delta_h = delta/3 (ref DataPerturbationServiceProvider.java:14-35)."""
        cal = calibrate(
            composition, epsilon / 2, delta * 2 / 3, epsilon / 2, delta / 3,
            c, t, per_record_clamp, alpha,
        )
        return cls(
            sigma_key=cal.sigma_key,
            sigma_hist=cal.sigma_hist,
            threshold_quantile=cal.threshold_quantile,
            max_time_steps=t,
            mu=mu,
            max_contributions_per_user=c,
            per_record_clamp=per_record_clamp,
            seed=seed,
        )

    @classmethod
    def zero_noise(cls, t: int, mu: int = 0, c: int = 32, clamp: float = 1.0) -> "DPParams":
        """Deterministic oracle mode (sigma=0), the reference's
        keystone test fixture (StreamingDPMechanismTest:84-86)."""
        return cls(0.0, 0.0, 4.2649, t, mu, c, clamp)


def dp_histogram_batch(
    contribs: DataFrame,
    params: DPParams,
    key_col: str = "key",
    user_col: str = "user_id",
    value_col: str = "value",
    epoch_col: str = "epoch",
    num_buckets: int = 64,
) -> DataFrame:
    """Run the full DP-SQLP mechanism over an epoch-partitioned batch;
    returns the final released histogram ``(key, count)`` in one
    partition, ordered by ``count`` desc then ``key``.

    Input must already be clamped + C-bounded (use
    ``operators.bounding.bounded_clamped``), matching the reference
    pipeline order bounding -> perturbation -> aggregation.

    Keys are split into ``num_buckets`` buckets by ``crc32(key)``; each
    bucket runs its own mechanism, seeded by ``(seed, bucket)``, so the
    noise depends on the bucket alone.  The buckets share one Python
    task per core and the mechanism stage runs once per action, so
    neither the task layout nor the final sort changes the output.
    """
    # SINGLE-PASS pre-aggregation: one (key, user) aggregate yields both
    # the per-(key, epoch) totals and the previous-contribution-epoch
    # counters, so the input (and any upstream bounding window) is
    # scanned exactly once.  collect_list per (key, user) is bounded by
    # C (contribution bounding runs upstream) — contrast
    # collect_set(user_id), which grows with the key's cardinality.
    # The (key, user) grouping needs no exchange when the input is
    # already partitioned by user (the bounding window's layout).
    evs = F.array_sort(
        F.collect_list(F.struct(F.col(epoch_col).alias("e"), F.col(value_col).alias("v")))
    )
    per_user = contribs.groupBy(key_col, user_col).agg(evs.alias("_evs"))
    # per event: carry value; stamp prev = previous DISTINCT epoch on the
    # FIRST row of each epoch (-1 = first ever, null = repeat row)
    prev_e = lambda i: F.get(F.col("_evs"), i - 1)["e"]  # noqa: E731
    trip = F.transform(
        F.col("_evs"),
        lambda x, i: F.struct(
            x["e"].alias("epoch"),
            x["v"].alias("value"),
            F.when(i == 0, F.lit(-1))
            .otherwise(
                F.when(prev_e(i) == x["e"], F.lit(None)).otherwise(prev_e(i))
            )
            .alias("prev"),
        ),
    )
    rows = per_user.select(F.col(key_col), F.explode(trip).alias("t")).select(
        key_col, F.col("t.epoch").alias(epoch_col), "t.value", "t.prev"
    )
    # count(prev) skips nulls, so repeat rows add value but no user;
    # the null-prev group still carries its value share into the total
    part = rows.groupBy(key_col, epoch_col, "prev").agg(
        F.sum("value").alias("v"), F.count("prev").alias("n_users")
    )
    windowed = (
        part.groupBy(key_col, epoch_col)
        .agg(
            F.sum("v").alias("total"),
            F.collect_list(  # when() -> null for the repeat-row group; collect_list drops nulls
                F.when(F.col("prev").isNotNull(), F.struct("prev", "n_users"))
            ).alias("new_user_counts"),
        )
        .withColumn("bucket", F.crc32(F.col(key_col).cast("string")) % num_buckets)
    )

    p = params

    def run_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame({"key": pd.Series(dtype=object), "count": pd.Series(dtype="int64")})
        bucket_id = int(pdf["bucket"].iloc[0])
        rng = (
            np.random.default_rng((p.seed, bucket_id))
            if p.seed is not None
            else np.random.default_rng()
        )
        mech = StreamingDPMechanism(
            p.sigma_key,
            p.sigma_hist,
            p.threshold_quantile,
            p.max_time_steps,
            p.mu,
            p.max_contributions_per_user,
            rng=rng,
        )
        by_epoch: dict[int, list[tuple[str, float, list]]] = {}
        for key, epoch, total, pc in zip(
            pdf[key_col], pdf[epoch_col], pdf["total"], pdf["new_user_counts"]
        ):
            by_epoch.setdefault(int(epoch), []).append((key, float(total), pc))
        hist: dict[str, int] = {}
        for epoch in range(p.max_time_steps):
            for key, total, pc in by_epoch.get(epoch, ()):
                mech.add_window_prev_counts(
                    key, total, ((row["prev"], row["n_users"]) for row in pc)
                )
            hist = mech.snapshot()
        return pd.DataFrame({"key": list(hist.keys()), "count": list(hist.values())})

    tasks = min(num_buckets, contribs.sparkSession.sparkContext.defaultParallelism)
    out = (
        windowed.repartition(tasks, "bucket")
        .groupBy("bucket")
        .applyInPandas(run_bucket, schema="key string, count long")
    )
    return out.repartition(1).sortWithinPartitions(F.desc("count"), "key")
