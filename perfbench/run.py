#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload serve|churn --seed N --seconds S --trace 0|1

Runs from the root of a checkout. The package is imported from there
and never modified; everything the run writes stays under
``.perfbench/`` in the checkout (inputs cached per seed and size, a
per-run scratch dir removed at exit, and trace files), except the
package zip ``session.ensure_py_files`` writes to /tmp (see
``drop_pyfiles_zip``).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
package's public functions, times every layer from outside and prints
the per-layer metrics (BENCHMARK.json lists both). The last stdout line
is always ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG_DIR = os.path.join(ROOT, "pyf_aggregator_spark")
STATE = os.path.join(ROOT, ".perfbench")


def pin_runtime(run_dir: str) -> dict[str, str]:
    """Pin the program's runtime through the environment overrides
    ``session.get_spark`` already honours, and point every scratch
    location into the run dir: a fresh segment-index cache (the facade
    keys cached indexes on the table dir's basename, so a shared cache
    would serve another commit's index), Spark local dirs and temp
    files."""
    cpus = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    pins = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # a quarter of RAM, at most 2g: the inputs are small, and the
        # host's memory is shared
        "SPARK_DRIVER_MEMORY": f"{max(1, min(2, int(ram_gb // 4)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "PYFAGG_SEG_CACHE": os.path.join(run_dir, "segidx"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # every JVM Spark starts (launcher and driver): temp files into
        # the run dir, and no perf-data file in the system temp dir
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir}/tmp",
    }
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(pins[k], exist_ok=True)
    os.environ.update(pins)
    return pins


def drop_pyfiles_zip() -> None:
    """``session.ensure_py_files`` builds the package zip it ships to
    Python workers once per driver process, at a /tmp path keyed by the
    pid. A zip left by an earlier process with the same pid would ship
    that process's copy of the package, so the run removes it before
    the session starts and after it stops."""
    zip_path = f"/tmp/pyf_aggregator_spark_pyfiles_{os.getpid()}.zip"
    for f in (zip_path, zip_path + ".tmp"):
        try:
            os.remove(f)
        except FileNotFoundError:
            pass


def process_tree(pid: int) -> list[int]:
    """``pid`` and every live descendant (the JVM's Python worker daemon
    and its workers)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's own peak resident memory (VmHWM)."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(line.split()[1]) for line in f
                            if line.startswith("VmHWM:")), 0)
        except OSError:
            pass
    return kb / 1024.0


CLK_TCK = os.sysconf("SC_CLK_TCK")


def program_cpu_s(jvm_pid: int) -> float:
    """CPU seconds (user + system) the program has used so far: this
    driver process, plus the JVM and every live process under it, each
    with the children it has reaped (exited Python workers). The kernel
    charges no steal time to a process, so unlike wall time this does
    not move with the load other guests put on a shared host."""
    ticks = 0
    for pid in process_tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except OSError:
            pass
    own = os.times()
    return ticks / CLK_TCK + own.user + own.system


def stop_spark(spark, pids: set[int]) -> None:
    """Stop the session, end the JVM and wait until the JVM and every
    process it started (Python worker daemon and workers) are gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    alive = set(pids)
    while alive and time.monotonic() < deadline:
        alive = {p for p in alive if os.path.exists(f"/proc/{p}") and _not_zombie(p)}
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _not_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot: steal is time
    the hypervisor ran other guests while this one had work."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return t[7], sum(t)


def empty_python_job_ms(sc, n: int = 5) -> float:
    """Calibration: wall time of a job that only starts one Python task
    per core — the launch floor every Python-UDF job pays."""
    from perfbench.tracer import median

    cores = sc.defaultParallelism
    ts = []
    for _ in range(n + 1):
        t0 = time.perf_counter()
        sc.parallelize(range(cores), cores).map(lambda x: x).count()
        ts.append(time.perf_counter() - t0)
    return median(ts[1:]) * 1000.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the harness smoke test")
    args = ap.parse_args(argv)

    if not os.path.isdir(PKG_DIR):
        print(f"perfbench: no package at {PKG_DIR}; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import SIZES, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    cache_dir = os.path.join(STATE, "cache")
    os.makedirs(cache_dir, exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return run(args, run_dir, cache_dir, SIZES[args.scale], WORKLOADS[args.workload])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, run_dir: str, cache_dir: str, size: dict, workload_cls) -> int:
    phases: dict[str, float] = {}
    mark = time.perf_counter()

    def phase(name: str) -> float:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now
        return now

    pins = pin_runtime(run_dir)
    print("runtime: " + " ".join(f"{k}={v}" for k, v in sorted(pins.items())), flush=True)

    import pyf_aggregator_spark.session as session
    from perfbench import report
    from perfbench.oracle import Oracle, digest
    from perfbench.tracer import Tracer
    from perfbench.workloads import Context, Recorder

    traced = bool(args.trace)
    tracer = Tracer(traced)
    tracer.install()

    ctx = Context(None, tracer, args.seed, size, cache_dir, run_dir)
    wl = workload_cls(ctx)  # seeded inputs: generated (or cached) untimed
    t_setup = phase("inputs")
    own = os.times()
    own_cpu0 = own.user + own.system
    drop_pyfiles_zip()
    spark = session.get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark.sparkContext._gateway.proc.pid
    ctx.spark, tracer.sc = spark, spark.sparkContext
    get_spark_s = phase("session") - t_setup
    try:
        wl.setup()
        setup_wall_s = phase("setup") - t_setup
        setup_cpu_s = program_cpu_s(jvm_pid) - own_cpu0

        probe_ms = empty_python_job_ms(spark.sparkContext) if traced else 0.0
        rec = Recorder(tracer, cpu=lambda: program_cpu_s(jvm_pid))
        cycles: list[float] = []
        cycles_cpu: list[float] = []
        t0 = phase("calibrate")
        ticks0 = cpu_ticks()
        while True:
            u0 = rec.cpu()
            c0 = time.perf_counter()
            wl.cycle(rec, len(cycles))
            cycles.append(time.perf_counter() - c0)
            cycles_cpu.append(rec.cpu() - u0)
            if time.perf_counter() - t0 >= args.seconds:
                break
        t1 = phase("timed")
        steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
        wl.finish(rec, traced)
        tracer.attribute_jobs()
        phase("finish")
        wl.check(rec, Oracle())
        phase("check")
    finally:
        pids = process_tree(jvm_pid)
        rss_mb = peak_rss_mb(pids)
        stop_spark(spark, set(pids))
        drop_pyfiles_zip()
    phase("stop")
    print("phases_s: " + " ".join(f"{k}={v:.2f}" for k, v in phases.items()), file=sys.stderr)
    print("ops_s (wall/cpu): " + " ".join(f"{o.name}={o.dur:.2f}/{o.cpu:.2f}" for o in rec.ops),
          file=sys.stderr)

    attempted = len(rec.ops)
    failed = sum(not o.ok for o in rec.ops) + len(rec.wrong)
    for w in rec.wrong:
        print(f"WRONG: {w}", file=sys.stderr)
    e2e = report.end_to_end(rec, setup_cpu_s, cycles_cpu, wl.index_bytes_per_text_byte())
    report.print_summary(wl, rec, e2e, setup_wall_s, cycles, failed, attempted, rss_mb,
                         digest(wl.first))
    # host contention slows every timed op alike in wall time; read a
    # run's wall figures next to it
    print(f"  host_cpu_steal_pct = {100.0 * steal / max(1, total):.2f} (timed loop)")
    if traced:
        metrics = report.per_layer(
            tracer, wl, rec, cycles, window=(t0, t1), get_spark_s=get_spark_s,
            empty_job_ms=probe_ms, peak_rss_mb=rss_mb,
        )
        trace_dir = os.path.join(STATE, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-s{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"spans": tracer.dump(), "job_tasks": tracer.job_tasks}, f)
        print(f"trace: {len(tracer.spans)} spans -> {os.path.relpath(path, ROOT)}")
    else:
        metrics = e2e
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
