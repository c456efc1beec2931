"""Seeded, closed-loop benchmark of the engine, end to end and layer by layer.

    python3 perfbench/run.py --workload {olap,index_ingest} \\
        --seed N --seconds S --trace {0,1}

Run it from the root of a source checkout.  One run is one fresh process on
``local[<cores>]`` with one client thread: it generates the workload's inputs
from ``--seed``, sets up, runs timed ops for ``--seconds``, checks every
output outside the timed region and prints a report.  The last line of
standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones listed in
BENCHMARK.json: ``setup_s`` (process start until ready: session, inputs,
migration or store builds, warm-up; output checks excluded), ``pass_s``
(wall time of one pass over the workload's fixed unit of work) and
``peak_rss_mb`` (VmHWM of the JVM plus the driver Python).  The lines above
it report the workload's own figures (query and lookup medians, append
time, migration and ingest rates, ``failed_op_ratio``).  With ``--trace 1``
the metrics are the per-layer ones, and the spans are written to
``.perfbench/spans-<workload>-<seed>.jsonl``; ``trace.overhead_s`` is the
time the traced run spent on tracing itself (status-store reads, plan
forcing, the migration's prefix passes).

Each run works inside a private root ``.perfbench/run-<pid>`` in the
checkout: its inputs, the stores it builds, and the engine's own ``TMPDIR``
and ``SPARK_LOCAL_DIRS``, so no run sees another's caches.  The root is
removed at the end, after what the engine left in its temp dir is counted.
The run exits non-zero without a result when the engine's sources are not
beside it.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "sqlite_to_clickhouse_spark")

# Every figure a run may print, with its unit.  Workloads fill what they
# measure; a layer a workload never calls reads 0.
END_TO_END = {"setup_s": "s", "pass_s": "s", "peak_rss_mb": "MB"}
_STORE_LAYERS = {
    **{f"operators.{s}.{k}_s": "s" for s in ("dedup", "similarity", "entity") for k in ("lookup", "append", "delete", "compact", "build")},
    **{f"operators.{s}.{k}_{c}": "count" for s in ("dedup", "similarity", "entity") for k in ("lookup", "append") for c in ("stages", "tasks")},
    **{f"io.{s}.{k}": u for s in ("dedup", "similarity", "entity") for k, u in (("live_files", "count"), ("manifest_versions", "count"), ("store_mb_per_input_mb", "ratio"), ("written_mb_per_input_mb", "ratio"))},
}
PER_LAYER = {
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count", "spark.tasks_per_op": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.busy_ratio": "ratio",
    "spark.stage_wait_s": "s", "spark.plan_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.cached_relations_left": "count",
    **_STORE_LAYERS,
    **{f"operators.{m}.exec_s": "s" for m in ("relational", "joins", "aggregates", "windows", "tpch_extra", "sortset")},
    "streaming.ops.exec_s": "s", "operators.build_s": "s", "io.scan_mb_per_query": "MB",
    "sources.sqlite.introspect_s": "s", "sources.sqlite.extract_s": "s", "sources.sqlite.extract_tasks": "count",
    "migrate.dedup_s": "s", "sources.sinks.write_s": "s", "sources.sinks.out_mb_per_src_mb": "ratio",
    "io.tmp_leaked_mb": "MB", "io.tmp_dirs_leaked": "count", "trace.overhead_s": "s",
}


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _source_digest() -> str:
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(PACKAGE)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _commit() -> str:
    """HEAD of the checkout, or "unknown" when it is not a git work tree."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
    except OSError:
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _leaked(tmp: str) -> tuple[float, int]:
    """MB and top-level entries the engine left in its private TMPDIR."""
    import workloads

    return workloads._dir_mb(tmp), len(os.listdir(tmp))


def _start_spark(cores: int, tmp: str):
    from sqlite_to_clickhouse_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # Keep the JVM's own temp files (native libs, perf data) in the run root.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["olap", "index_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")):
        print(f"perfbench: engine sources not found at {PACKAGE}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    run_root = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(run_root, "spark-local"))
    # Before anything reads them: the engine's temp dirs and generation
    # caches live under TMPDIR, Spark's block and shuffle files under
    # SPARK_LOCAL_DIRS.
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # A bounded driver heap keeps one run's footprint small and its peak
    # RSS comparable between runs.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import spans

    import workloads

    spark = None
    try:
        spark = _start_spark(cores, tmp)
        print(f"perfbench: session up {_process_age_s():.2f}s after process start", file=sys.stderr, flush=True)
        tracer = spans.Tracer(spark, enabled=bool(args.trace))
        ctx = workloads.Ctx(spark, tracer, args.seed, args.seconds, run_root, cores)
        t0 = time.perf_counter()
        res = workloads.WORKLOADS[args.workload](ctx)
        setup_s = _process_age_s() - (time.perf_counter() - res["ready"]) - ctx.check_s
        run_wall = time.perf_counter() - t0
        leak_mb, leak_n = _leaked(tmp)
        rss = _hwm_mb(os.getpid()) + _hwm_mb(spark.sparkContext._gateway.proc.pid)
        conf = spark.sparkContext.getConf()
        context = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "commit": _commit(), "source_sha256_16": _source_digest(), "nproc": cores,
            "master": spark.sparkContext.master, "default_parallelism": spark.sparkContext.defaultParallelism,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": conf.get("spark.driver.memory"),
            "pyspark": __import__("pyspark").__version__, "inputs": ctx.input_sizes,
        }
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".perfbench"))
        except OSError:
            pass

    import bench  # the repo's host-speed probes; bench.main is never called

    context["host_speed_probe_s"] = bench.host_speed_probe()
    context["host_speed_probe_mt_s"] = bench.host_speed_probe_mt()

    if args.trace:
        os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
        tracer.write(os.path.join(ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}.jsonl"))
        if not tracer.check_nesting():
            ctx.fail("trace: a child span lies outside its parent")
    failed = len(ctx.failures)
    attempted = max(ctx.attempted, failed, 1)
    e2e = {
        "setup_s": setup_s,
        "pass_s": res["pass_s"],
        "peak_rss_mb": rss,
    }
    layers = dict.fromkeys(PER_LAYER, 0.0)
    layers.update({k: v for k, (v, _u) in res["layers"].items()})
    layers["io.tmp_leaked_mb"] = leak_mb
    layers["io.tmp_dirs_leaked"] = leak_n
    layers["trace.overhead_s"] = tracer.overhead_s

    print("context " + json.dumps(context, sort_keys=True))
    for msg in ctx.failures:
        print("FAILED " + msg, file=sys.stderr)
    rows = [(k, v, END_TO_END[k]) for k, v in e2e.items()]
    rows += [(k, v, u) for k, (v, u) in res["e2e"].items()]
    rows.append(("failed_op_ratio", failed / attempted, "ratio"))
    rows.append(("run_wall_s", run_wall, "s"))
    if args.trace:
        rows += [(k, layers[k], PER_LAYER[k]) for k in PER_LAYER]
    for k, v, u in rows:
        print(f"{k:40s} {v:14.6f} {u}")
    print(f"correct {failed == 0} ({attempted} ops attempted, {failed} failed)")
    chosen = {k: (v, END_TO_END[k]) for k, v in e2e.items()} if not args.trace else {k: (layers[k], u) for k, u in PER_LAYER.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
