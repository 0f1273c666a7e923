"""Seeded closed-loop benchmark of the auraverse engine, one workload per run.

    python3 perfbench/run.py --workload messy_ingest --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. The run generates its inputs
from ``--seed``, starts Spark at ``local[nproc]``, sets up (session,
package ship, Python-worker spin-up and any program staging such as the
day-1 index build) several times and keeps the median, then runs jobs
in a closed loop -- one client, each job on fresh input, submitted after
the previous one finished -- for ``--seconds``. Every job's output is
checked outside the timed interval.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` traces every
other job and reports the per-layer metrics, including the tracing
overhead measured against the untraced jobs of the same run. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value and unit). Everything the run
writes lives under ``.perfbench/`` in the checkout; the spans of a
traced run are kept there as ``spans-<workload>-<seed>.json``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "auraverse_etl_pipeline_spark"
SETUPS = 3  # set-ups per run; setup_s reports their median
MIN_JOBS = 6  # the cold first job plus at least five warm ones
DRIVER_MEMORY = "1g"
NO_PERF_DATA = "-XX:-UsePerfData"  # no hsperfdata file in the system temp directory


class Refused(Exception):
    """The run cannot start (missing package, oversubscribed cores)."""


def guard_parallelism(master: str, parallelism: int, nproc: int) -> None:
    """The benchmark runs Spark at ``local[nproc]`` whatever the
    environment asks for (``SPARK_GRAFT_CPUS``/``SPARK_GRAFT_MASTER`` are
    overridden); a session that still came up with another master or
    more task slots than cores is refused rather than run oversubscribed."""
    if master != f"local[{nproc}]" or parallelism > nproc:
        raise Refused(
            f"session runs at {master} with parallelism {parallelism}; "
            f"the benchmark needs local[{nproc}] (nproc)"
        )


def tree_peak_mb() -> float:
    """Peak resident memory of this process tree (this driver, the JVM
    and its Python workers): the sum of each live process's kernel-kept
    resident high-water mark (``VmHWM``), read from /proc. Being kept by
    the kernel, it misses no short peak between samples."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return total_kb / 1e3


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(work: str, cores: int) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the run's work directory."""
    import tempfile

    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["SPARK_LAUNCHER_OPTS"] = NO_PERF_DATA  # spark-submit's own launcher JVM


def launch_jvm(work: str) -> None:
    from pyspark import SparkConf, SparkContext

    conf = (
        SparkConf()
        .set("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={work}/tmp {NO_PERF_DATA}")
        # a fixed heap ceiling: the JVM then sizes its heap the same way on
        # every run, instead of growing it as far as host memory allows
        .set("spark.driver.memory", DRIVER_MEMORY)
    )
    SparkContext._ensure_initialized(conf=conf)


def stop_jvm() -> None:
    """Stop the gateway JVM and wait until it (and with it the Python
    workers it forked) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _warm(batches):
    import auraverse_etl_pipeline_spark.ingest.pipeline  # noqa: F401
    import auraverse_etl_pipeline_spark.operators.similarity  # noqa: F401

    yield from batches


def open_session(work: str, cores: int, workload, stopped: list):
    """One set-up: a fresh SparkContext, the package ship, one Python
    worker per core, then the workload's own staging."""
    from auraverse_etl_pipeline_spark.runtime import ship_package
    from auraverse_etl_pipeline_spark.session import get_spark
    from spans import Tracer

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    guard_parallelism(spark.sparkContext.master, spark.sparkContext.defaultParallelism, cores)
    t1 = time.perf_counter()
    ship_package(spark)
    t2 = time.perf_counter()
    spark.range(0, cores, 1, cores).mapInPandas(_warm, "id long").write.format("noop").mode(
        "overwrite"
    ).save()
    t3 = time.perf_counter()
    tracer = Tracer(spark, cores)
    workload.bind(spark, tracer)
    workload.stage()
    t4 = time.perf_counter()
    # the package-ship registry is keyed by id(SparkContext): keep the
    # stopped contexts alive so a new context never reuses an old id
    stopped.append(spark.sparkContext)
    times = {"start": t1 - t0, "ship": t2 - t1, "warm": t3 - t2, "stage": t4 - t3, "total": t4 - t0}
    return spark, tracer, times


def per_layer_metrics(workload, tracer, launch_s, setups, walls, traced, extras) -> dict[str, float]:
    """Every per-layer metric; a layer the workload does not call reads 0."""
    from metrics import PER_LAYER

    m = {name: 0.0 for name in PER_LAYER}
    m.update(tracer.layer_metrics())
    c = workload.counters
    for name in ("ingest.docs", "ingest.fragments", "ingest.records", "ingest.fields",
                 "operators.lm_scored_docs", "streaming.appended_rows", "streaming.retired_rows",
                 "streaming.retrains_fired", "streaming.fsck_findings", "streaming.files_written"):
        m[name] = c[name]
    m["ingest.record_yield"] = c["ingest.records"] / c["ingest.fragments"] if c["ingest.fragments"] else 0.0
    if c["operators.funnel_docs_in"]:
        m["operators.survivor_frac"] = c["operators.funnel_docs_out"] / c["operators.funnel_docs_in"]
    m["streaming.bytes_written_mb"] = c["streaming.bytes_written"] / 1e6
    if c["streaming.user_bytes"]:
        m["streaming.write_amp"] = c["streaming.bytes_written"] / c["streaming.user_bytes"]
    if c["streaming.files_written"]:
        m["streaming.mean_file_kb"] = c["streaming.bytes_written"] / c["streaming.files_written"] / 1e3
    # interpreter and JVM launch (once) plus the median SparkContext start
    m["session.start_s"] = launch_s + statistics.median(s["start"] for s in setups)
    m["session.ship_s"] = statistics.median(s["ship"] for s in setups)
    m["session.workers_warm_s"] = statistics.median(s["warm"] for s in setups)
    on = [w for w, t in zip(walls[1:], traced[1:]) if t]
    off = [w for w, t in zip(walls[1:], traced[1:]) if not t]
    m["trace.jobs"] = len(on)
    if on and off:
        m["trace.overhead_frac"] = statistics.median(on) / statistics.median(off) - 1.0
    m.update(extras)
    return m


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        raise Refused(f"no {PACKAGE} package next to {os.path.basename(HERE)}/; run from a source checkout")
    cores = len(os.sched_getaffinity(0))
    sys.path[:0] = [HERE, ROOT]

    from metrics import END_TO_END, PER_LAYER, REPORT_ONLY, tail
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise Refused(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_environment(work, cores)
    workload = WORKLOADS[args.workload](args.seed, work)
    stopped: list = []
    try:
        t = time.perf_counter()
        workload.generate_setup()
        gen_s = time.perf_counter() - t
        launch_jvm(work)
        launch_s = time.perf_counter() - T_PROCESS - gen_s
        setups = []
        for i in range(SETUPS):
            if i:
                spark.stop()
            spark, tracer, times = open_session(work, cores, workload, stopped)
            setups.append(times)
        setup_s = launch_s + statistics.median(s["total"] for s in setups)

        walls, mbs, traced = [], [], []
        attempted = failed = 0
        loop_t0 = time.perf_counter()
        k = 0
        while k < MIN_JOBS or time.perf_counter() - loop_t0 < args.seconds:
            inp = workload.prepare(k)
            tracer.enabled = bool(args.trace) and k % 2 == 1
            t0 = time.perf_counter()
            try:
                with tracer.span("job", f"job-{k}"):
                    out = workload.run(k, inp)
                wall = time.perf_counter() - t0
                errors = workload.check(k, inp, out)
            except Exception:  # a failed job is counted and reported, the loop goes on
                wall = time.perf_counter() - t0
                errors = [traceback.format_exc(limit=3)]
            attempted += 1
            failed += bool(errors)
            for e in errors[:3]:
                print(f"job {k} FAILED CHECK: {e}", file=sys.stderr)
            walls.append(wall)
            mbs.append(inp["input_mb"])
            traced.append(tracer.enabled)
            workload.release(k)
            k += 1
        peak_rss = tree_peak_mb()
        tracer.enabled = bool(args.trace)
        extras = workload.traced_extras() if args.trace else {}
        spark.stop()
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        tracer.dump(os.path.join(base, f"spans-{args.workload}-{args.seed}.json"))

    warm = walls[1:]
    tail_s, tail_p = tail(warm)
    e2e = {
        "setup_s": setup_s,
        "job_p50_s": statistics.median(warm),
        "throughput_mb_s": sum(mbs[1:]) / sum(warm),
        "peak_rss_mb": peak_rss,
    }
    report = {**e2e, "first_job_s": walls[0], "job_tail_s": tail_s, "fail_frac": failed / attempted}
    print(f"workload {args.workload} seed {args.seed}: {attempted} jobs "
          f"({len(warm)} warm), closed loop, 1 client, local[{cores}]")
    print(f"  input per job: {json.dumps({k: v for k, v in inp.items() if k not in ('dir', 'ids', 'tomb')})}")
    print(f"  job walls (s): {' '.join(f'{w:.3f}' for w in walls)}")
    if workload.inputs:
        print(f"  set-up input: {json.dumps(workload.inputs)}")
    units = {**END_TO_END, **REPORT_ONLY}
    for name, value in report.items():
        shown = "n/a (fewer than 11 warm jobs)" if value is None else f"{value:.4f} {units[name]}"
        extra = f" (p{tail_p} of {len(warm)} warm jobs)" if name == "job_tail_s" and tail_p else ""
        print(f"  {name:<18} {shown}{extra}")
    if args.trace:
        metrics = per_layer_metrics(workload, tracer, launch_s, setups, walls, traced, extras)
        for name, value in metrics.items():
            print(f"  {name:<32} {value:.4f} {PER_LAYER[name]}")
        units = PER_LAYER
    else:
        metrics = e2e
        units = END_TO_END
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except Refused as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        sys.exit(2)
