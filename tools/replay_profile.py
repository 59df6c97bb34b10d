"""Break down where a stream_*_replay query's wall time goes.

Phases measured per query (one warm session):
  build+input   query function up to write_epoch_source's toPandas
                (approximated: total minus the instrumented pieces)
  epoch_write   write_epoch_source (driver-side pyarrow writes)
  stream_exec   start() .. awaitTermination (micro-batch loop)
  fold+convert  latest_per fold + createDataFrame back to Spark
  action        the final .count()

Each run goes through bench.py's warm-up and timed step
(``bench.run_query``); the phases are hooks around it.

Usage: python tools/replay_profile.py [--sf-dir DIR] query [query ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import run_query, warm_session  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from confidential_storm_spark.plans.queries import build_queries
    from confidential_storm_spark.session import get_spark
    from confidential_storm_spark.streaming import replay as R

    spark = get_spark(app_name="replay-profile")
    warm_session(spark, args.sf_dir)
    qs = build_queries()

    marks: dict[str, float] = {}

    orig_write = R.write_epoch_source

    def timed_write(df, epoch_col, out_dir):
        t0 = time.perf_counter()
        out = orig_write(df, epoch_col, out_dir)
        marks["epoch_write"] = marks.get("epoch_write", 0.0) + time.perf_counter() - t0
        return out

    R.write_epoch_source = timed_write

    # also time the stream-exec region: wrap DataStreamWriter.start
    from pyspark.sql.streaming import DataStreamWriter

    orig_start = DataStreamWriter.start

    def timed_start(self, *a, **kw):
        marks["t_start"] = time.perf_counter()
        return orig_start(self, *a, **kw)

    DataStreamWriter.start = timed_start

    from pyspark.sql.streaming.query import StreamingQuery

    orig_await = StreamingQuery.awaitTermination

    def timed_await(self, *a, **kw):
        r = orig_await(self, *a, **kw)
        if "t_start" in marks:
            marks["stream_exec"] = marks.get("stream_exec", 0.0) + (
                time.perf_counter() - marks.pop("t_start")
            )
        return r

    StreamingQuery.awaitTermination = timed_await

    def timed_build(fn):
        def build(spark_, sf_dir):
            t0 = time.perf_counter()
            df = fn(spark_, sf_dir)
            marks["build"] = time.perf_counter() - t0
            return df

        return build

    for name in args.queries:
        for run in range(args.runs):
            marks.clear()
            t_total = run_query(spark, name, timed_build(qs[name]), args.sf_dir, f"run{run}")
            t_build = marks["build"]
            rest = t_build - marks.get("epoch_write", 0.0) - marks.get("stream_exec", 0.0)
            print(
                f"{name} run{run}: total={t_total:.2f}s action={t_total - t_build:.2f}s"
                f" epoch_write={marks.get('epoch_write', 0):.2f}s"
                f" stream_exec={marks.get('stream_exec', 0):.2f}s"
                f" build_rest(input+fold+convert)={rest:.2f}s"
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
