"""End-to-end benchmark of confidential_storm_spark on local[4].

Usage (from the repository root):

    python3 e2ebench/run.py --workload {wordcount_stream,batch_dp}
                            --seed N --seconds S --trace {0,1}

One invocation starts the driver, sets the workload up several times
(session start, warm-up, input generation from the seed), checks the
library's output once, runs an untimed warm pass, then runs
closed-loop passes for ``--seconds`` seconds.  Stdout ends with a
detail record and then one JSON line
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` additionally runs a
second timed window in a session with Spark's event log on and a job
group per span, and reports the per-layer metrics, including the
tracing overhead (traced ``run_s`` minus untraced ``run_s``).

Everything the benchmark writes lives under ``.e2ebench_work/`` in the
repository root and is removed at exit.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4
SETUPS = 3  # set-ups per run; setup_s is their median
# untimed passes between the output check and the timed window: the
# first pass after the check is still 10-40 % slower than the next (JIT,
# state-store and Python-worker paths)
WARM_PASSES = 1

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "op_p50_s": "s",
}

STREAM_STAGE = {
    "batch_s": "s", "add_batch_s": "s", "overhead_s": "s", "state_update_s": "s",
    "state_commit_s": "s", "state_rows": "count", "state_bytes": "B", "rows_in": "count",
    "rows_out": "count", "tasks": "count",
}
ENGINE = (
    "spark.jobs", "spark.stages", "spark.tasks", "executor.run_s", "executor.cpu_s",
    "executor.gc_s", "shuffle.read_bytes", "shuffle.write_bytes", "spill_bytes",
    "python.start_s", "python.run_s", "python.bytes",
)
# per-layer metric -> unit; a layer a workload does not exercise reports 0
PER_LAYER = {
    "ambient.probe_s": "s",
    "memory.peak_rss_mb": "MB",
    "trace.run_s": "s",
    "trace.overhead_s": "s",
    "session.cold_start_s": "s",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "calibration.s": "s",
    "envelope.seal_s": "s",
    "envelope.open_rps": "1/s",
    "text.words_rps": "1/s",
    **{f"bound_stream.{k}": u for k, u in STREAM_STAGE.items()},
    **{f"dp_stream.{k}": u for k, u in STREAM_STAGE.items()},
    "dp_stream.python_s": "s",
    "dp_stream.nonempty_groups": "count",
    "bounding.s": "s",
    "bounding.rows_in": "count",
    "bounding.rows_out": "count",
    "dp_batch.jvm_s": "s",
    "dp_batch.python_s": "s",
    "dp_batch.python_bytes": "B",
    "dp_batch.shuffle_bytes": "B",
    "dp_batch.windowed_rows": "count",
    "dp_batch.task_skew": "ratio",
    "dp_batch.python_stages": "count",
    "dp_batch.python_tasks": "count",
    "mechanism.core_s": "s",
    "mechanism.snapshots": "count",
    "mechanism.key_steps": "count",
    "dp.keys_released": "count",
    "dp.l2_error": "count",
    "sources.load_s": "s",
    "sources.input_records": "count",
    "sources.input_bytes": "B",
    "plans.pass_s": "s",
    "plans.build_s": "s",
    "plans.build_p50_s": "s",
    "plans.exec_s": "s",
    "plans.query_p50_s": "s",
    "plans.query_p90_s": "s",
    "plans.spark_jobs": "count",
    "plans.spark_tasks": "count",
    **{k: ("count" if k.startswith("spark.") else "B" if k.endswith("bytes") else "s") for k in ENGINE},
}


def peak_rss_mb() -> dict[str, float]:
    """Peak resident set (VmHWM) of this process and all its descendants
    (the driver JVM and the Python worker daemons), summed by command
    name, in MB."""
    parents: dict[int, int] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            parents[int(stat.split("/")[2])] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for child, parent in parents.items():
            if parent == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    by_name: dict[str, float] = {}
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as fh:
                status = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in status:
            name = status["Name"].strip()
            by_name[name] = by_name.get(name, 0.0) + int(status["VmHWM"].split()[0]) / 1024
    return by_name


def start_session(work: str, event_log: bool):
    from confidential_storm_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # keep the JVM's scratch files (and no hsperfdata) inside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.eventLog.enabled": str(event_log).lower(),
    }
    if event_log:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf.update(
            {
                "spark.eventLog.dir": f"{work}/eventlog",
                # Spark 4 defaults to rolled zstd logs; zstandard is not
                # available to Python here, so keep one plain file
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    # one shuffle partition per core instead of the library's default
    # 32: at 32 a word-count epoch takes about 15 s instead of 3 s, more
    # than a run has time for
    spark = get_spark(app_name="e2ebench", cpus=CPUS, shuffle_partitions=CPUS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Shut the driver JVM down and wait for it; its Python worker
    daemons exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def warm_up(spark) -> None:
    """JVM-side first-use costs of a session: codegen and a shuffle.  The
    Python worker paths warm up in the output check, which runs the
    workload's own pass before any timed pass."""
    from pyspark.sql.functions import col

    spark.range(1000).groupBy((col("id") % CPUS).alias("b")).count().collect()


def timed_window(spark, wl, tracer, seconds: float) -> list[dict]:
    passes = []
    deadline = time.perf_counter() + seconds
    while True:
        passes.append(wl.run_pass(spark, tracer))
        if time.perf_counter() >= deadline:
            return passes


def _med(xs) -> float:
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def _batch_engine(by_batch: dict, batches: list[dict]) -> list[dict]:
    """Event-log engine metrics of the given micro-batches."""
    keys = [(b["id"], b["batchId"]) for b in batches]
    return [by_batch[k] for k in keys if k in by_batch]


def stream_stage_layers(prefix: str, batches: list[dict], by_batch: dict, n_passes: int) -> dict:
    """Fold listener progress and event-log engine metrics of one
    streaming stage's micro-batches into ``<prefix>.*`` metrics: times
    are medians over batches, row counts are per pass."""
    d = [b["durationMs"] for b in batches]
    ops = [b["stateOperators"][0] if b["stateOperators"] else {} for b in batches]
    return {
        f"{prefix}.batch_s": _med([x.get("triggerExecution", 0) / 1e3 for x in d]),
        f"{prefix}.add_batch_s": _med([x.get("addBatch", 0) / 1e3 for x in d]),
        # planning, offset WAL and commit: everything but the batch's job
        f"{prefix}.overhead_s": _med(
            [(x.get("triggerExecution", 0) - x.get("addBatch", 0)) / 1e3 for x in d]
        ),
        f"{prefix}.state_update_s": _med([o.get("allUpdatesTimeMs", 0) / 1e3 for o in ops]),
        f"{prefix}.state_commit_s": _med([o.get("commitTimeMs", 0) / 1e3 for o in ops]),
        f"{prefix}.state_rows": ops[-1].get("numRowsTotal", 0) if ops else 0,
        f"{prefix}.state_bytes": ops[-1].get("memoryUsedBytes", 0) if ops else 0,
        f"{prefix}.rows_in": sum(b["numInputRows"] for b in batches) / n_passes,
        f"{prefix}.tasks": _med([m["spark.tasks"] for m in _batch_engine(by_batch, batches)]),
    }


def traced_layers(spark, wl, args, work: str, untraced_run_s: float, detail: dict) -> dict:
    """Second timed window in a fresh session with the event log on;
    returns the per-layer metrics."""
    from e2ebench.eventlog import fold, merge
    from e2ebench.trace import Tracer

    spark.stop()
    shutil.rmtree(f"{work}/eventlog", ignore_errors=True)
    spark = start_session(work, event_log=True)
    tracer = Tracer(spark, wl.name, enabled=True)
    with tracer.span("warm"):
        warm_up(spark)
        for _ in range(1 + WARM_PASSES):  # the new session's first pass is cold
            wl.run_pass(spark, tracer)
    with tracer.span("window") as window:
        passes = timed_window(spark, wl, tracer, args.seconds)
    detail["probe_failures"] = wl.probes(spark, tracer)
    tracer.close()
    app_id = spark.sparkContext.applicationId
    spark.stop()  # flushes and closes the event log
    by_span, by_batch = fold(f"{work}/eventlog/{app_id}")

    n = len(passes)
    run_s = _med([p["pass_s"] for p in passes])
    layers = dict(wl.layers)
    layers["trace.run_s"] = run_s
    layers["trace.overhead_s"] = run_s - untraced_run_s
    # the window's jobs: those of its spans, streaming micro-batches
    # started inside them included
    in_window = tracer.descendants(window)
    s1 = [b for p in passes for b in p.get("stage1", [])]
    s2 = [b for p in passes for b in p.get("stage2", [])]
    engine = merge([m for sid, m in by_span.items() if sid in in_window])
    layers.update({k: engine[k] / n for k in ENGINE})  # per pass, like run_s

    if s1:
        layers.update(stream_stage_layers("bound_stream", s1, by_batch, n))
        layers.update(stream_stage_layers("dp_stream", s2, by_batch, n))
        # the sinks report no row count: stage 1's output is what stage 2
        # reads, stage 2's is what the foreachBatch sink received
        layers["bound_stream.rows_out"] = layers["dp_stream.rows_in"]
        layers["dp_stream.rows_out"] = sum(p["sink_rows"] for p in passes) / n
        layers["dp_stream.python_s"] = merge(_batch_engine(by_batch, s2))["python.run_s"] / n
        layers["dp_stream.nonempty_groups"] = _med(
            [b["stateOperators"][0].get("numRowsUpdated", 0) for b in s2 if b["stateOperators"]]
        )
        detail["stage1_batch_tasks"] = [m["spark.tasks"] for m in _batch_engine(by_batch, s1)]
        detail["stage1_progress"] = s1
        detail["stage2_progress"] = s2
    if wl.name == "batch_dp":
        layers["dp_batch.python_s"] = engine["executor.python_stage_s"] / n
        layers["dp_batch.jvm_s"] = engine["executor.jvm_stage_s"] / n
        layers["dp_batch.python_bytes"] = engine["python.bytes"] / n
        layers["dp_batch.shuffle_bytes"] = engine["shuffle.write_bytes"] / n
        layers["dp_batch.task_skew"] = engine["task_skew"]
        layers["dp_batch.python_stages"] = engine["python.stages"] / n
        layers["dp_batch.python_tasks"] = engine["python.tasks"] / n
        # the registry floor: engine metrics of the timed registry pass
        # and of each of its queries
        (reg,) = [sp for sp in tracer.spans if sp.name == "registry"]
        reg_spans = tracer.descendants(reg)
        reg_engine = merge([m for sid, m in by_span.items() if sid in reg_spans])
        layers["plans.spark_jobs"] = reg_engine["spark.jobs"]
        layers["plans.spark_tasks"] = reg_engine["spark.tasks"]
        detail["query_engine"] = {
            sp.name[len("query."):]: by_span.get(sp.id)
            for sp in tracer.spans
            if sp.id in reg_spans and sp.name.startswith("query.")
        }
    detail["spans"] = [sp.__dict__ for sp in tracer.spans]
    detail["traced_passes"] = n
    return {k: float(layers.get(k, 0.0)) for k in PER_LAYER}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # on SIGTERM still run the clean-up below: stop the JVM, remove the
    # working directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    sys.path.insert(0, ROOT)
    try:
        import confidential_storm_spark  # noqa: F401
    except ImportError as ex:
        print(f"e2ebench: the library is not importable from {ROOT}: {ex}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".e2ebench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    # Python workers import the library by module path; they do not
    # inherit sys.path, only the environment
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the stream replays otherwise put their scratch on /dev/shm
    os.environ["SPARK_GRAFT_STREAM_TMP"] = os.path.join(work, "tmp")
    # the spark-submit launcher JVM starts before any Spark conf applies
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    # the machine's memory is shared: cap the driver heap at 2 GB (the
    # library's default is 8 GB); the largest run peaks near 1.6 GB
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    from tools.ambient_probe import probe

    from e2ebench.trace import Tracer
    from e2ebench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"e2ebench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    detail: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds}
    detail["ambient_probe_s"] = probe()
    wl = WORKLOADS[args.workload](args.seed, work)
    spark = None
    setups, starts, warms = [], [], []
    try:
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = start_session(work, event_log=False)
            t1 = time.perf_counter()
            warm_up(spark)
            t2 = time.perf_counter()
            wl.setup(spark)
            setups.append(time.perf_counter() - t0)
            starts.append(t1 - t0)
            warms.append(t2 - t1)
        detail["setup_s"] = setups
        # the first start launches the JVM; the others restart the
        # context inside it
        wl.layers["session.cold_start_s"] = starts[0]
        wl.layers["session.start_s"] = _med(starts)
        wl.layers["session.warmup_s"] = _med(warms)

        phases = {"setup": sum(setups)}
        t0 = time.perf_counter()
        try:
            check_failures = wl.check(spark)
        except Exception as ex:  # a crash in the program is a failed check
            check_failures = [f"{wl.name}: output check raised {ex!r}"[:500]]
        detail["check_failures"] = check_failures
        t1 = time.perf_counter()
        tracer = Tracer(spark, wl.name, enabled=False)
        for _ in range(WARM_PASSES):
            wl.run_pass(spark, tracer)
        t2 = time.perf_counter()
        passes = timed_window(spark, wl, tracer, args.seconds)
        tracer.close()
        phases.update(check=t1 - t0, warm=t2 - t1, window=time.perf_counter() - t2)
        detail["phase_s"] = phases
        ops = [x for p in passes for x in p["ops"]]
        failed = sum(p["failed"] for p in passes) + len(check_failures)
        attempted = len(ops) + failed - len(check_failures) + 1  # +1: the check
        run_s = _med([p["pass_s"] for p in passes])
        detail["passes"] = [
            {k: v for k, v in p.items() if k not in ("stage1", "stage2")} for p in passes
        ]
        for k in ("keys_released", "l2_error"):
            vals = [p[k] for p in passes if k in p]
            if vals:
                wl.layers[f"dp.{k}"] = vals[-1]
        detail["ops_s"] = ops
        rss = peak_rss_mb()
        detail["peak_rss_mb_by_process"] = rss
        wl.layers["memory.peak_rss_mb"] = sum(rss.values())
        if args.trace:
            metrics = traced_layers(spark, wl, args, work, run_s, detail)
            failed += len(detail["probe_failures"])
            attempted += len(detail["probe_failures"]) + 1  # +1: the probes' checks
            metrics["ambient.probe_s"] = detail["ambient_probe_s"]
            spark = None
            units = PER_LAYER
        else:
            metrics = {"setup_s": _med(setups), "run_s": run_s, "op_p50_s": _med(ops)}
            units = END_TO_END
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(os.path.join(ROOT, ".e2ebench_work"), ignore_errors=True)

    print(json.dumps({"detail": detail}, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
