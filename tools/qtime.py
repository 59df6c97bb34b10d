"""Focused per-query timing for optimization A/B runs.

Times the registry queries matching the given ``fnmatch`` patterns
(``'stream_*_replay'`` selects a whole family) in ONE warm session
through bench.py's own warm-up and timed step, printing per-run
seconds, the median, and an order-insensitive value hash of each
query's result (``tools/check_correctness.py::value_hash``), so a
change — or a candidate session conf (``--conf k=v``, repeatable) —
can be checked for speed AND result identity without a full 205-query
bench pass.  Optionally times the noop sink instead of ``count()``
(guide §1.4: computes every column, removes sink/pruning artifacts
from the comparison) and dumps ``explain('formatted')`` to a file.

Usage:
  python tools/qtime.py [--runs N] [--warmup N] [--noop] [--explain-dir DIR] \
      [--sf-dir DIR] [--conf k=v ...] pattern [pattern ...]
"""

from __future__ import annotations

import argparse
import contextlib
import fnmatch
import gc
import io
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import run_query, warm_session  # noqa: E402
from tools.check_correctness import value_hash  # noqa: E402


def _noop_sink(fn):
    """Wrap query builder ``fn`` so that ``count()`` on its DataFrame
    writes every column to Spark's noop sink instead."""

    def build(spark, sf_dir):
        df = fn(spark, sf_dir)
        df.count = lambda: df.write.format("noop").mode("overwrite").save()
        return df

    return build


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--warmup", type=int, default=1)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--explain-dir", default="")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--conf", action="append", default=[])
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from confidential_storm_spark.plans.queries import build_queries, prebuild_artifacts
    from confidential_storm_spark.session import get_spark

    qs = build_queries()
    matched = {p: fnmatch.filter(qs, p) for p in args.queries}
    unknown = [p for p, ns in matched.items() if not ns]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    names = list(dict.fromkeys(n for ns in matched.values() for n in ns))

    extra = dict(kv.split("=", 1) for kv in args.conf)
    spark = get_spark(app_name="csspark-qtime", extra_conf=extra)
    warm_session(spark, args.sf_dir)
    prebuild_artifacts(spark, args.sf_dir)

    medians: list[float] = []
    for name in names:
        fn = _noop_sink(qs[name]) if args.noop else qs[name]
        samples = [
            run_query(spark, name, fn, args.sf_dir, f"{'warm' if i < args.warmup else 'run'}{i}")
            for i in range(args.warmup + args.runs)
        ][args.warmup :]
        medians.append(statistics.median(samples))
        df = qs[name](spark, args.sf_dir)
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(args.explain_dir, f"{name}.txt"), "w") as f:
                f.write(buf.getvalue())
        digest = value_hash(df.toPandas())
        del df
        gc.collect()
        print(f"{name}\tmedian={medians[-1]:.3f}\truns={samples}\thash={digest}")
    print(f"TOTAL {sum(medians):.2f}s over {len(names)} queries, confs={extra}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
