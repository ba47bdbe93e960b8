"""Benchmark entry point: one workload, one seed, one process and JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run it from the root of a checkout. It generates its inputs from the seed
(cached under .perfbench/inputs), runs the scenario in scenario.py at
local[nproc], checks the outputs, prints a table of the metrics and, as the
last line of standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the run records spans (trace.py) and reports the per-layer
metrics. A full record of the run (samples, phases, input hashes, load
average, versions) is written to .perfbench/records/.

The scenario is a fixed amount of work, sized so that its timed phases take
about BENCHMARK.json's run_seconds on a 4-core host; --seconds is recorded
with the run.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The production CC dispatcher runs a driver union-find up to 100k star
# edges and the distributed label fixpoint above (stages/cc.py), a cap that
# only corpora of ~70k+ images cross. Both workloads scale the cap down with
# the corpus (SPARK_GRAFT_CC_DRIVER_MAX), so `large` builds over it and runs
# the fixpoint and `small` builds under it and runs the union-find; deltas
# and operator queries stay under it on both.
CC_DRIVER_MAX = 2000
DRIVER_MEM = "2g"

# Per workload: base corpus rows, micro-batch rows, lookups after the
# append, the sizes of the operator queries' documents and embeddings tables
# (those of the sf0.01 testdata), and whether untraced runs run the operator
# pass. Its time feeds no end-to-end metric, so untraced runs of one
# workload run it for its oracle check only; traced runs always run it for
# the ops.* spans. BENCHMARK.json says why each workload is there.
WORKLOADS = {
    "large": dict(base_rows=2000, batch_rows=150, lookups=8, docs=500,
                  vecs=500, ops=False),
    "small": dict(base_rows=1000, batch_rows=150, lookups=8, docs=500,
                  vecs=500, ops=True),
}


def _preflight() -> None:
    for need in ("apollo_spark/__init__.py", "__spark_entry__.py",
                 "tools/check_entry.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} is missing: run from the root of a "
                  f"full checkout", file=sys.stderr)
            sys.exit(2)


def _env(work_dir: str) -> None:
    """Private scratch for Spark and every child process, and the program
    importable by the Python workers."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    tmp = os.path.join(work_dir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["SPARK_GRAFT_CC_DRIVER_MAX"] = str(CC_DRIVER_MAX)
    # A 2 GB driver heap holds every table of the workloads. With the
    # session's 8 GB default the JVM's PSS grew to 2.9-3.9 GB with the same
    # timings: heap growth that follows allocation and collector timing,
    # not the program's needs. The record splits the peak by process.
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_ON_CLUSTER", None)
    os.environ.pop("SPARK_GRAFT_ICEBERG_WAREHOUSE", None)
    sys.path[:0] = [ROOT]


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def end_to_end(run) -> dict:
    """The build and the append run once per run, the lookups as many
    times as the workload's ``lookups`` (their median is reported); the
    medians over runs are taken by whoever compares runs. The ops pass, where it runs, is timed in the record (samples
    ops_s and ops.<query>_s) and in the ops.* spans, but is not an
    end-to-end metric: its run-to-run spread reached 0.25 of the median on
    a 4-core VM, the largest bound a metric may have."""
    s = run.samples
    return {
        "setup_s": (run.setup_s, "s"),
        "build_images_per_s": (s["build_images_per_s"][0], "img/s"),
        "ingest_batch_s": (s["ingest_batch_s"][0], "s"),
        "query_p50_ms": (statistics.median(s["query_ms"]), "ms"),
        "peak_pss_mb": (run.peak_pss_mb, "MB"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _preflight()
    # a terminated run still stops its JVM and deletes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    _env(work_dir)
    from perfbench import procs
    load_before = _loadavg()
    sampler = procs.PssSampler(os.getpid())
    sampler.start()
    spark = run = tracer = None
    try:
        import numpy
        import pyspark

        from apollo_spark.session import get_spark
        from perfbench.scenario import OPS_QUERIES, Run
        params = WORKLOADS[args.workload]
        with_ops = bool(args.trace or params["ops"])
        run = Run(work_dir, args.seed, params)
        t = time.perf_counter()
        run.load_inputs()
        if with_ops:
            run.load_ops_inputs()
        gen_s = time.perf_counter() - t
        conf = {"spark.ui.showConsoleProgress": "false"}
        if args.trace:
            from perfbench import trace
            tracer = trace.Tracer(os.path.join(work_dir, "events"))
            conf.update(tracer.spark_conf())
        nproc = os.cpu_count() or 1
        spark = run.spark = get_spark("perfbench", cores=nproc,
                                      extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        run.frames()
        t_warm = time.perf_counter()
        run.warm_up()
        if tracer:
            tracer.install(spark)
            run.span = tracer.span
        t_first, epoch_first = time.perf_counter(), time.time()
        run.setup_s = t_first - T_START - gen_s
        phases = {"inputs": gen_s, "setup": run.setup_s,
                  "setup.warm_up": t_first - t_warm}
        for name in ("build", "ingest", "lookups") + (
                ("ops",) if with_ops else ()):
            t = time.perf_counter()
            with run.span(f"phase.{name}"):
                getattr(run, name)()
            phases[name] = time.perf_counter() - t
        timed_s = time.perf_counter() - t_first
        epoch_last = time.time()
        run.peak_pss_mb = sampler.stop()
        t = time.perf_counter()
        run.check_clusters()
        run.check_lookups()
        if with_ops:
            run.check_ops()
        layers = {}
        if tracer:
            tracer.stopped = True
            run.info["rebuild_pair_diff"] = run.check_rebuild()
        phases["checks"] = time.perf_counter() - t
        spark.stop()
        spark = None
        if tracer:
            lk = run.info["lookups"]
            layers = {**tracer.fold(epoch_first, epoch_last, run.out_dir,
                                    OPS_QUERIES),
                      "query.candidates": (float(lk["candidates"]), "count"),
                      "query.hit_ratio": (lk["hits"] / max(lk["candidates"],
                                                          1), "ratio")}
        metrics = end_to_end(run)
        record = {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "seconds": args.seconds,
            "params": params,
            "input_hash": run.info.pop("input_hash"),
            "nproc": nproc, "load_before": load_before,
            "load_after": _loadavg(),
            "versions": {"python": platform.python_version(),
                         "spark": pyspark.__version__,
                         "numpy": numpy.__version__},
            "phases_s": phases, "timed_s": timed_s,
            "peak_pss_parts_mb": sampler.peak_parts_mb(),
            "attempted": run.attempted, "failed": run.failed,
            "errors": run.errors[:20], "info": run.info,
            "metrics": {k: v for k, (v, _) in metrics.items()},
            "layers": {k: v for k, (v, _) in layers.items()},
            "samples": run.samples,
        }
        _write_record(record)
    finally:
        if spark is not None:
            spark.stop()
        sampler.stop()
        procs.reap_children()
        shutil.rmtree(work_dir, ignore_errors=True)

    shown = layers if args.trace else metrics
    for name, (value, unit) in shown.items():
        print(f"{args.workload:6s} {name:40s} {value:14.6g} {unit}")
    print(f"{args.workload:6s} {'fail_ratio':40s} "
          f"{run.failed / run.attempted:14.6g} ratio")
    for e in run.errors[:10]:
        print(f"FAILED: {e}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in shown.items()}}))
    return 0


def _write_record(record: dict) -> None:
    d = os.path.join(ROOT, ".perfbench", "records")
    os.makedirs(d, exist_ok=True)
    name = (f"{record['workload']}-s{record['seed']}-t{record['trace']}-"
            f"{int(time.time())}.json")
    with open(os.path.join(d, name), "w") as f:
        json.dump(record, f, indent=1, default=float)


if __name__ == "__main__":
    sys.exit(main())
