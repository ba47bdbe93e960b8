"""Traced runs: spans around the program's layers, folded with the Spark
event log into per-layer numbers.

Nothing inside the program changes. ``Tracer.install`` wraps the public
functions and catalog methods of each layer by replacing module and class
attributes; callers inside a module resolve those at call time.
Names bound with ``from x import y`` are replaced in the importing module
too. Each wrapper records a span (name, start, end, parent, thread) and sets
``spark.jobGroup.id`` to the span id in its own thread, so every Spark job
is attributed to the innermost span open in the thread that submitted it;
this includes the pipeline's extension thread and its cc/clusters write
pool, which call the wrapped catalog methods themselves.

After the SparkContext stops, ``Tracer.fold`` reads the uncompressed event
log: JobStart carries the job group, TaskEnd the task metrics. Spans are
intervals, so overlapping instances of one span are counted once.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import statistics
import threading
import time

# catalog stage -> span of the layer whose table it is
_STAGE_SPAN = {
    "vocab": "bags.vocab", "bags": "bags.weight",
    "signatures": "hashst.signatures", "bands": "hashst.bands",
    "simhash_pairs": "candidates.simhash",
    "substring_fp": "candidates.substring",
    "substring_membership": "candidates.substring",
    "cc": "cc.write", "clusters": "cc.write", "images": "checkpoint.images",
}

# spans reported with time, cpu, shuffle and driver time; the heavy ones
# with skew. The spans in NO_SHUFFLE run no shuffle at all (their jobs are
# scans and writes), so their shuffle figure, always 0, is not reported.
LAYER_SPANS = ("bags.vocab", "bags.weight", "hashst.signatures",
               "hashst.bands", "candidates.simhash", "candidates.substring",
               "cc.label", "cc.write", "checkpoint.images",
               "ingest.fingerprint", "ingest.delta_stages",
               "ingest.extensions", "ingest.inc_cc", "ingest.cc_write",
               "query.lookup", "checkpoint.load", "checkpoint.metrics_flush")
SKEW_SPANS = ("bags.vocab", "hashst.signatures", "candidates.simhash",
              "cc.label", "cc.write")
NO_SHUFFLE = ("bags.weight", "hashst.signatures", "hashst.bands",
              "checkpoint.images", "ingest.delta_stages",
              "ingest.extensions", "checkpoint.load",
              "checkpoint.metrics_flush")
# the benchmark's own spans around whole phases; coverage leaves them out
PHASE_PREFIX = "phase."
COUNTS = ("cc.edges", "cc.fixpoint_rounds", "ingest.partitions_rewritten",
          "checkpoint.manifest_writes", "checkpoint.files")


class Tracer:
    def __init__(self, log_dir: str):
        self.log_dir = log_dir
        self.spans: list[dict] = []
        self.counts = dict.fromkeys(COUNTS, 0)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._sc = None
        self.stopped = False

    def spark_conf(self) -> dict:
        os.makedirs(self.log_dir, exist_ok=True)
        return {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.log_dir}",
                "spark.eventLog.compress": "false"}

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span; jobs this thread submits inside it carry its id
        as their job group."""
        stack = self._local.__dict__.setdefault("stack", [])
        s = {"id": f"span-{next(self._ids)}", "name": name,
             "parent": stack[-1]["id"] if stack else None,
             "thread": threading.get_ident(), "start": time.time()}
        stack.append(s)
        self._sc.setLocalProperty("spark.jobGroup.id", s["id"])
        try:
            yield s
        finally:
            s["end"] = time.time()
            stack.pop()
            self._sc.setLocalProperty("spark.jobGroup.id",
                                      stack[-1]["id"] if stack else None)
            with self._lock:
                self.spans.append(s)

    def _count(self, key: str, n: int) -> None:
        with self._lock:
            self.counts[key] += n

    # -- instrumentation ---------------------------------------------------
    def install(self, spark) -> None:
        """Wrap the program's layer entry points (see module docstring)."""
        from apollo_spark import checkpoint, incremental, streaming
        from apollo_spark.stages import candidates, cc
        self._sc = spark.sparkContext
        cat = checkpoint.CheckpointCatalog

        def wrap(owner, attr, span_of, after=None, also=()):
            fn = getattr(owner, attr)

            @functools.wraps(fn)
            def wrapper(*a, **kw):
                if self.stopped:
                    return fn(*a, **kw)
                name = span_of(a, kw)
                if name is None:
                    out = fn(*a, **kw)
                else:
                    with self.span(name):
                        out = fn(*a, **kw)
                if after:
                    after(a, kw, out)
                return out
            for o in (owner, *also):
                setattr(o, attr, wrapper)

        def stage_span(a, kw):
            return _STAGE_SPAN.get(a[1])

        def append_span(a, kw):
            if a[1] in ("cc", "clusters"):
                return "ingest.cc_write"
            if a[1] in ("simhash_pairs", "substring_fp"):
                return "ingest.extensions"
            return "ingest.delta_stages"

        def count_manifest(a, kw, out):
            self._count("checkpoint.manifest_writes", 1)

        def count_round(a, kw, out):
            self._count("cc.fixpoint_rounds", 1)

        def count_edges(a, kw, out):
            # the dispatcher has materialized the edges' checkpoint by now,
            # so this extra job (traced runs only) re-reads it
            n = a[0].count()
            with self._lock:
                self.counts["cc.edges"] = max(self.counts["cc.edges"], n)

        wrap(cat, "write", stage_span)
        wrap(cat, "append", append_span)
        overwrite = cat.overwrite_partitions

        @functools.wraps(overwrite)
        def overwrite_counted(cat_self, stage, *a, **kw):
            if self.stopped:
                return overwrite(cat_self, stage, *a, **kw)
            before = set(_parquet_files(cat_self.path(stage)))
            with self.span("ingest.cc_write"):
                out = overwrite(cat_self, stage, *a, **kw)
            if stage == "cc":
                new = set(_parquet_files(cat_self.path(stage))) - before
                self._count("ingest.partitions_rewritten",
                            len({os.path.dirname(f) for f in new}))
            return out
        cat.overwrite_partitions = overwrite_counted
        wrap(cat, "clear_partitions", lambda a, kw: "ingest.cc_write")
        wrap(cat, "load", lambda a, kw: "checkpoint.load")
        wrap(cat, "_write_metrics_rows",
             lambda a, kw: "checkpoint.metrics_flush")
        wrap(cat, "_save_manifest", lambda a, kw: None, after=count_manifest)
        wrap(incremental, "delta_fingerprint",
             lambda a, kw: "ingest.fingerprint", also=(streaming,))
        wrap(candidates, "simhash_pairs_delta",
             lambda a, kw: "ingest.extensions")
        wrap(cc, "incremental_components_parts",
             lambda a, kw: "ingest.inc_cc")
        wrap(cc, "components_from_edges", lambda a, kw: "cc.label",
             after=count_edges)
        wrap(cc, "fixpoint_round", lambda a, kw: None, after=count_round)

    # -- fold --------------------------------------------------------------
    def fold(self, t0: float, t1: float, ckpt_dir: str,
             ops_queries: tuple) -> dict:
        """Per-layer metrics from the spans and the event log; call after
        the SparkContext has stopped (the log is complete then)."""
        jobs, stage_job, tasks = _read_log(self.log_dir)
        by_id = {s["id"]: s for s in self.spans}
        job_span = {j: by_id[g]["name"] for j, (g, _, _) in jobs.items()
                    if g in by_id}
        job_iv = [(a, b) for _, a, b in jobs.values()]
        per: dict[str, dict] = {}
        for t in tasks:
            name = job_span.get(stage_job.get(t["stage"]))
            if name is None:
                continue
            p = per.setdefault(name, {"cpu": 0.0, "shuffle": 0.0,
                                      "dur": []})
            p["cpu"] += t["cpu_s"]
            p["shuffle"] += t["shuffle_mb"]
            p["dur"].append(t["dur_s"])
        out: dict[str, tuple] = {}
        for name in LAYER_SPANS:
            iv = _union([(s["start"], s["end"]) for s in self.spans
                         if s["name"] == name])
            p = per.get(name, {"cpu": 0.0, "shuffle": 0.0, "dur": []})
            out[f"{name}.s"] = (_length(iv), "s")
            out[f"{name}.cpu_s"] = (p["cpu"], "s")
            if name not in NO_SHUFFLE:
                out[f"{name}.shuffle_mb"] = (p["shuffle"], "MB")
            out[f"{name}.driver_s"] = (
                _length(iv) - _length(_intersect(iv, _union(job_iv))), "s")
            if name in SKEW_SPANS:
                d = p["dur"]
                med = statistics.median(d) if d else 0.0
                out[f"{name}.skew"] = (max(d) / med if med else 0.0,
                                       "ratio")
        for q in ops_queries:
            name = f"ops.{q}"
            iv = _union([(s["start"], s["end"]) for s in self.spans
                         if s["name"] == name])
            out[f"{name}.s"] = (_length(iv), "s")
            out[f"{name}.shuffle_mb"] = (
                per.get(name, {"shuffle": 0.0})["shuffle"], "MB")
        self.counts["checkpoint.files"] = len(_parquet_files(ckpt_dir))
        for k, v in self.counts.items():
            out[k] = (float(v), "count")
        out["query.jobs"] = (float(sum(
            n == "query.lookup" for n in job_span.values())), "count")
        # share of the timed wall inside some layer span (phase spans left
        # out): the part of a slowdown that a layer figure can name
        layer = _union([(s["start"], s["end"]) for s in self.spans
                        if not s["name"].startswith(PHASE_PREFIX)])
        out["trace.coverage"] = (_length(_intersect(layer, [(t0, t1)]))
                                 / (t1 - t0), "ratio")
        out["trace.timed_s"] = (t1 - t0, "s")
        return out


def _parquet_files(root: str) -> list[str]:
    return glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)


def _read_log(log_dir: str):
    """-> ({job: (group, start_s, end_s)}, {stage: job}, [task])"""
    jobs: dict[int, list] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"),
                                 recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    j = ev["Job ID"]
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    jobs[j] = [group, ev["Submission Time"] / 1e3, None]
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault(st, j)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]][2] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "shuffle_mb": (rd.get("Remote Bytes Read", 0)
                                       + rd.get("Local Bytes Read", 0)
                                       + wr.get("Shuffle Bytes Written", 0))
                        / 2**20,
                        "dur_s": (info["Finish Time"]
                                  - info["Launch Time"]) / 1e3})
    done = {j: (g, a, b if b is not None else a)
            for j, (g, a, b) in jobs.items()}
    return done, stage_job, tasks


def _union(iv: list[tuple]) -> list[tuple]:
    out: list[list] = []
    for a, b in sorted(iv):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(x) for x in out]


def _intersect(x: list[tuple], y: list[tuple]) -> list[tuple]:
    out, i, j = [], 0, 0
    while i < len(x) and j < len(y):
        a, b = max(x[i][0], y[j][0]), min(x[i][1], y[j][1])
        if a < b:
            out.append((a, b))
        if x[i][1] < y[j][1]:
            i += 1
        else:
            j += 1
    return out


def _length(iv: list[tuple]) -> float:
    return sum(b - a for a, b in iv)
