#!/usr/bin/env python3
"""Benchmark of the check-suite engine: one workload, one seed, one process.

    python3 perfbench/run.py --workload suite_small --seed 1 --seconds 15 \
        --trace 0

Run from the repository root. The fixture for ``--seed`` is generated (and
cached) before Spark starts; then one ``local[<nproc>]`` session runs a
closed loop with one client: an untimed warm-up iteration, then timed
iterations, each starting only after the previous one returned, until their
timed walls add up to ``--seconds`` (at least one always runs). The first
timed iteration's output is checked against DuckDB and every later one must
reproduce its digest. All files the run writes stay under
``perfbench/.cache/``.

``--trace 0`` reports the end-to-end metrics (BENCHMARK.json
``end_to_end``). ``--trace 1`` interleaves untraced and traced iterations,
runs each layer once in isolation, and reports the per-layer metrics
(``per_layer``); tracing overhead goes to the informational line.

Standard output: one informational JSON line (every metric with its unit,
host context, span counts), then the result line
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
CACHE = os.path.join(BENCH_DIR, ".cache")
QUIESCE_S = 3.0


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="minimum fixture size (the smoke test)")
    return p.parse_args(argv)


def isolate_process_files(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    os.makedirs(work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = work
    # no hsperfdata files in /tmp from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={work}' "
        f"pyspark-shell")
    # a 1 GB driver heap holds either fixture many times over; the
    # engine's 8 GB default would let the heap, and so peak RSS, grow with
    # GC timing rather than with what the run keeps alive
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    tempfile.tempdir = work
    os.chdir(work)       # spark-warehouse/, derby.log, metastore_db/


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()          # the JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def quiesce(spark) -> None:
    """Start timing from a settled process: collect both heaps and give the
    JIT compiler threads time to drain what the warm-up queued, so they do
    not compete with the first timed iteration for this host's few cores."""
    import gc
    gc.collect()
    spark._jvm.java.lang.System.gc()
    time.sleep(QUIESCE_S)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def nproc() -> int:
    """Cores this process may run on, as ``nproc`` counts them."""
    return len(os.sched_getaffinity(0))


def host_record() -> dict:
    import duckdb
    import pyspark
    return {"nproc": nproc(), "python": platform.python_version(),
            "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "loadavg": os.getloadavg()[0]}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "pyanomalydetector_spark"))):
        print(f"perfbench: no engine next to {BENCH_DIR}; run it from a "
              f"checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, BENCH_DIR]

    import fixture
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    protocol, size, smoke_size = WORKLOADS[args.workload]
    if args.smoke:
        size = smoke_size
    path = fixture.fixture_path(args.seed, size.rows, size.sources, size.files)

    work = os.path.join(CACHE, f"work-{os.getpid()}")
    isolate_process_files(work)
    try:
        return run(args, protocol, path, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def run(args, protocol, path: str, work: str) -> int:
    from pyanomalydetector_spark.session import get_spark
    import harvest
    from spans import Tracer

    cores = nproc()
    tracer = Tracer() if args.trace else None
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]")
    try:
        store = harvest.StatusStore(spark) if tracer else None
        t_load = time.perf_counter()
        wl = protocol(spark, path, work)
        load_s = time.perf_counter() - t_load
        warm = (traced_iteration(wl, tracer, store, "warm", warm_up=True)
                if tracer else wl.warm_up())
        setup_s = warm.t_end - t0
        harvest.unpersist_all(spark)
        reference, errors = None, []
        host = host_record()
        quiesce(spark)

        # closed loop, one client, until the timed walls add up to
        # --seconds; a traced run interleaves untraced and traced
        # iterations in the order plain, traced, traced, plain, ... so that
        # neither kind always runs first, and attempts one of each
        plain, traced, failed, i, timed = [], [], 0, 0, 0.0
        while timed < args.seconds or i < (2 if tracer else 1):
            t_start = time.perf_counter()
            try:
                if tracer and i % 4 in (1, 2):
                    out = traced_iteration(wl, tracer, store, f"it{i}")
                    traced.append(out)
                else:
                    out = wl.run()
                    plain.append(out)
                timed += out.wall
                if reference is None:
                    reference, errors = out.digest, wl.check(out)
                    failed += bool(errors)
                elif out.digest != reference:
                    failed += 1
                    print(f"perfbench: iteration {i} output differs from "
                          f"the first timed iteration's", file=sys.stderr)
            except Exception:
                failed += 1
                timed += time.perf_counter() - t_start
                traceback.print_exc()
            finally:
                harvest.unpersist_all(spark)
            i += 1
        attempted = i

        iso = isolated_layers(wl, tracer, store) if tracer else {}
        host_end = host_record()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = hwm_mb(jvm_pid) + hwm_mb("self")
    finally:
        stop_spark(spark)

    for e in errors:
        print(f"perfbench: output check: {e}", file=sys.stderr)
    walls = [o.wall for o in plain]
    e2e = {
        "setup_s": (setup_s, "s"),
        "suite_s_p50": (median(walls), "s"),
        "validated_seq_per_s": (median([wl.rows / w for w in walls]), "1/s"),
        "ok_ops_ratio": ((attempted - failed) / attempted, "ratio"),
        "peak_rss_mb": (peak_rss, "MB"),
    }
    metrics = (layer_metrics(tracer, warm, traced, plain, iso, cores, load_s)
               if tracer else e2e)
    info = {
        "workload": args.workload, "seed": args.seed, "rows": wl.rows,
        "cores": cores, "samples": len(walls), "iteration_s": walls,
        "warm_up_s": warm.wall, "failed_ops_ratio": failed / attempted,
        "host_start": host, "host_end": host_end,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in {**e2e, **metrics}.items()},
    }
    if tracer:
        info["span_counts"] = tracer.counts()
        # traced minus untraced iteration wall; with fewer than four timed
        # iterations the untraced one ran first, so read it as a rough figure
        info["trace_overhead_s"] = (median([o.wall for o in traced])
                                    - median(walls))
        spans_dir = os.path.join(CACHE, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.write(os.path.join(spans_dir,
                                  f"{args.workload}_s{args.seed}.json"))
    print(json.dumps(info))
    print(json.dumps({"correct": not errors and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))
    return 0


def traced_iteration(wl, tracer, store, name: str, checks=None,
                     warm_up=False, digest=True):
    """One iteration with spans on and the status store diffed around its
    timed part; the counters land in ``Outcome.extra``."""
    tracer.iteration = name
    tracer.install()
    try:
        before = store.snapshot()
        if warm_up:
            out = wl.warm_up()
            counters = store.diff(before)
        else:
            counters = {}
            out = wl.run(checks, digest=digest,
                         on_timed=lambda: counters.update(store.diff(before)))
    finally:
        tracer.uninstall()
    out.iteration = name
    out.extra.update(counters)
    return out


def isolated_layers(wl, tracer, store) -> dict:
    """Each layer's checks alone over the workload's table, materialized:
    the fusible checks (one fused pass), ``unique``, and each drift kind."""
    from pyanomalydetector_spark.checks.fused import is_fusible
    import harvest
    runs = {
        "fused": [c for c in wl.suite if is_fusible(c)],
        "unique": [c for c in wl.suite if c.kind == "unique"],
        "ks": [c for c in wl.suite if c.kind == "drift_ks"],
        "psi": [c for c in wl.suite if c.kind == "drift_psi"],
    }
    out = {}
    for name, checks in runs.items():
        try:
            out[name] = traced_iteration(wl, tracer, store, f"iso:{name}",
                                         checks, digest=False)
        finally:
            harvest.unpersist_all(wl.spark)
    return out


def layer_metrics(tracer, warm, traced, plain, iso, cores, load_s) -> dict:
    """Per-layer metrics: medians over the traced timed iterations, the
    cold checkpoint call of the traced warm-up, and the isolated runs."""
    def per_iter(fn):
        return median([fn(o) for o in traced])

    def spans_s(name, outcome):
        return tracer.total(name, outcome.iteration)

    m = {}
    for key, span in (("checks.core.run_checks_s", "checks.core.run_checks"),
                      ("checks.fused.build_s", "checks.fused.run_fused"),
                      ("checks.core.materialize_s",
                       "checks.core.materialize")):
        m[key] = (per_iter(lambda o: spans_s(span, o)), "s")
    for c, unit in (("jobs", "count"), ("stages", "count"),
                    ("tasks", "count"), ("executor_run_s", "s"),
                    ("input_bytes", "B"), ("shuffle_read_bytes", "B"),
                    ("shuffle_write_bytes", "B"), ("spill_bytes", "B")):
        m[f"checks.core.{c}"] = (per_iter(lambda o: o.extra[c]), unit)
    m["checks.core.core_busy_ratio"] = (per_iter(
        lambda o: o.extra["executor_run_s"] / (o.wall * cores)), "ratio")
    m["checks.core.verdict_rows"] = (per_iter(lambda o: o.verdict_rows),
                                     "count")
    m["checks.core.violation_rows"] = (per_iter(lambda o: o.violation_rows),
                                       "count")
    m.update({
        "checks.fused.exec_s": (iso["fused"].wall, "s"),
        "checks.fused.stages": (iso["fused"].extra["stages"], "count"),
        "checks.fused.tasks": (iso["fused"].extra["tasks"], "count"),
        "checks.fused.shuffle_bytes": (
            iso["fused"].extra["shuffle_write_bytes"], "B"),
        "checks.core.unique.exec_s": (iso["unique"].wall, "s"),
        "checks.core.unique.tasks": (iso["unique"].extra["tasks"], "count"),
        "checks.core.unique.shuffle_bytes": (
            iso["unique"].extra["shuffle_write_bytes"], "B"),
        "checks.drift.ks_exec_s": (iso["ks"].wall, "s"),
        "checks.drift.ks_tasks": (iso["ks"].extra["tasks"], "count"),
        "checks.drift.psi_exec_s": (iso["psi"].wall, "s"),
        "sources.load_s": (load_s, "s"),
    })
    # the cold call runs in the warm-up; a suite workload has no
    # checkpoint spans and reads 0 here
    for c in ("compute_baseline", "save_baseline"):
        m[f"plans.checkpoint.{c}_s"] = (
            spans_s(f"plans.checkpoint.{c}", warm), "s")
    m["plans.checkpoint.cold_call_s"] = (warm.extra.get("cold_call_s", 0.0),
                                         "s")
    for c in ("load_baseline", "done_partitions", "merge"):
        m[f"plans.checkpoint.{c}_s"] = (
            per_iter(lambda o: spans_s(f"plans.checkpoint.{c}", o)), "s")
    m["plans.checkpoint.self_s"] = (per_iter(lambda o: sum(
        tracer.self_time(s) for s in tracer.named(
            "plans.checkpoint.run_with_checkpoint", o.iteration))), "s")
    for c, unit in (("bytes_written", "B"), ("files_written", "count"),
                    ("resume_partition_error", "count")):
        m[f"plans.checkpoint.{c}"] = (per_iter(
            lambda o: o.extra.get(c, 0)), unit)
    return m


if __name__ == "__main__":
    sys.exit(main())
