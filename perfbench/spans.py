"""Per-layer spans for the traced run, recorded from outside the program.

The tracer replaces the layer entry points the pipeline and the delta job
call (module globals and ``TableIO`` methods) with wrappers that, around
each call:

* tag the Spark jobs with ``setJobGroup(<span>)`` so the event log can
  attribute task metrics (run time, JVM CPU, shuffle write, spill) to it;
* read the Python-worker CPU from /proc and the JVM-wide GC time from the
  GC MXBeans, since task metrics see neither correctly in local mode;
* materialize a returned DataFrame (``persist`` + ``count``) inside the span.
  The pipeline pins its stages lazily, so without this a span would time
  only plan building and the work would land in whichever later action
  touched it.  The count job is part of the span; the cost of breaking
  stage fusion shows as ``trace_overhead_s``.

Spans never nest: each wrapper is installed on the name the caller looks
up, not on the defining module, so ``lsh.candidate_pairs`` calling
``bucketed_pairs`` internally is one span.  Jobs outside every span belong
to the ``pipeline`` residual, whose wall time is the traced wall minus the
spans.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict

from proctree import CpuReading

SPANS = [
    "exact.distinct_text_reps",
    "exact.with_signatures",
    "lsh.candidate_pairs",
    "lsh.bucketed_pairs",
    "verify.verify_pairs",
    "components.connected_components",
    "consensus.consensus_vote",
    "tables.write",
    "tables.read",
]
RESIDUAL = "pipeline"
FIELDS = {
    "wall_s": "s",
    "task_s": "s",
    "jvm_cpu_s": "s",
    "py_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "jobs": "count",
    "rows_out": "count",
}
# measured by the wrappers; every other field comes from the event log
_FROM_TRACER = {"wall_s", "py_cpu_s", "gc_s", "rows_out"}
KERNELS = ["shingle_us", "signature_us", "jaccard_us", "lcs_gate_us"]
REPEATS = 5  # kernel passes; the median is reported


def _targets():
    """(owner, attribute, span): the names the two jobs resolve at call time."""
    from gencore_spark import delta, pipeline
    from gencore_spark.sources.tables import TableIO

    out = []
    for mod in (pipeline, delta):
        out += [
            (mod, "distinct_text_reps", "exact.distinct_text_reps"),
            (mod, "with_signatures", "exact.with_signatures"),
            (mod, "verify_pairs", "verify.verify_pairs"),
            (mod, "connected_components", "components.connected_components"),
            (mod, "consensus_vote", "consensus.consensus_vote"),
        ]
    out += [
        (pipeline, "candidate_pairs", "lsh.candidate_pairs"),
        (delta, "bucketed_pairs", "lsh.bucketed_pairs"),
        (TableIO, "write", "tables.write"),
        (TableIO, "read", "tables.read"),
    ]
    return out


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(f).num_rows
        for f in glob.glob(os.path.join(path, "*.parquet"))
    )


class Tracer:
    """Collects spans for ONE traced job; use as a context manager."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.acc = {s: defaultdict(float) for s in SPANS}
        self.windows: list[tuple[float, float, str]] = []
        self.pinned = []
        self._saved = []

    def gc_s(self) -> float:
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3

    def _materialize(self, out, span: str, args) -> int | None:
        from pyspark.sql import DataFrame

        if span == "tables.read":
            return _parquet_rows(args[0]._path(args[1]))
        df = out[0] if isinstance(out, tuple) else out
        if isinstance(df, DataFrame):
            self.pinned.append(df.persist())
            return df.count()
        return None

    def _wrap(self, fn, span: str):
        def traced(*args, **kwargs):
            self.sc.setJobGroup(span, span)
            t0, cpu0, gc0 = time.time(), CpuReading(), self.gc_s()
            try:
                out = fn(*args, **kwargs)
                rows = self._materialize(out, span, args)
            finally:
                t1, cpu1, gc1 = time.time(), CpuReading(), self.gc_s()
                self.sc.setJobGroup(RESIDUAL, RESIDUAL)
            a = self.acc[span]
            a["wall_s"] += t1 - t0
            a["py_cpu_s"] += cpu1.py - cpu0.py
            a["gc_s"] += gc1 - gc0
            if rows is not None:
                a["rows_out"] += rows
            self.windows.append((t0, t1, span))
            return out

        return traced

    def __enter__(self):
        for owner, attr, span in _targets():
            fn = getattr(owner, attr)
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, span))
        self.sc.setJobGroup(RESIDUAL, RESIDUAL)
        self.t0, self.cpu0, self.gc0 = time.time(), CpuReading(), self.gc_s()
        return self

    def __exit__(self, *exc):
        self.t1, self.cpu1, self.gc1 = time.time(), CpuReading(), self.gc_s()
        self.sc.setJobGroup("checks", "checks")
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        for df in self.pinned:
            df.unpersist()
        return False

    def _group_of(self, props: dict, submit_ms: float) -> str | None:
        g = props.get("spark.jobGroup.id")
        if g is not None:
            return g
        # a job submitted from a thread without the group: place it by time
        t = submit_ms / 1e3
        for t0, t1, span in self.windows:
            if t0 <= t < t1:
                return span
        return RESIDUAL if self.t0 <= t < self.t1 else None

    def metrics(self, event_log_dir: str, rows_final: int) -> dict[str, float]:
        """Per-span metrics; call after ``spark.stop()`` flushed the log."""
        ev = defaultdict(lambda: defaultdict(float))
        stage_group: dict[int, str | None] = {}
        for path in glob.glob(os.path.join(event_log_dir, "*")):
            with open(path) as f:
                for line in f:
                    if line.startswith('{"Event":"SparkListenerJobStart"'):
                        e = json.loads(line)
                        g = self._group_of(e.get("Properties") or {}, e["Submission Time"])
                        ev[g]["jobs"] += 1
                        for sid in e["Stage IDs"]:
                            stage_group.setdefault(sid, g)
                    elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                        e = json.loads(line)
                        m = e.get("Task Metrics")
                        if not m:
                            continue
                        a = ev[stage_group.get(e["Stage ID"])]
                        a["task_s"] += m["Executor Run Time"] / 1e3
                        a["jvm_cpu_s"] += m["Executor CPU Time"] / 1e9
                        a["shuffle_write_mb"] += (
                            m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 1e6
                        )
                        a["spill_mb"] += m["Disk Bytes Spilled"] / 1e6
                        a["records_written"] += m["Output Metrics"]["Records Written"]
        out: dict[str, float] = {}
        for span in SPANS + [RESIDUAL]:
            for field in FIELDS:
                src = self.acc.get(span, {}) if field in _FROM_TRACER else ev[span]
                out[f"{span}.{field}"] = float(src.get(field, 0.0))
        out["tables.write.rows_out"] = float(ev["tables.write"]["records_written"])
        wall = self.t1 - self.t0
        out[f"{RESIDUAL}.wall_s"] = wall - sum(out[f"{s}.wall_s"] for s in SPANS)
        out[f"{RESIDUAL}.py_cpu_s"] = (self.cpu1.py - self.cpu0.py) - sum(
            out[f"{s}.py_cpu_s"] for s in SPANS
        )
        out[f"{RESIDUAL}.gc_s"] = (self.gc1 - self.gc0) - sum(out[f"{s}.gc_s"] for s in SPANS)
        out[f"{RESIDUAL}.rows_out"] = float(rows_final)
        out["trace.wall_s"] = wall
        return out


def kernel_us(texts: list[str], pairs: list[tuple[str, str]]) -> dict[str, float]:
    """Single-process µs per item of the ``functions`` kernels the pipeline's
    UDFs call, over normalized texts and candidate text pairs."""
    from gencore_spark.config import DEFAULT_CONFIG as cfg
    from gencore_spark.functions.minhash import perm_params, signatures_many
    from gencore_spark.functions.shingle import shingle_hashes
    from gencore_spark.functions.similarity import has_common_substring, jaccard

    a, b = perm_params(cfg.num_perms, cfg.seed)
    k = cfg.shingle_k
    sh_pairs = [(shingle_hashes(x, k), shingle_hashes(y, k)) for x, y in pairs]
    gates = [(x, y, int(cfg.lcs_min_ratio * min(len(x), len(y)))) for x, y in pairs]

    def per_item(fn, n: int) -> float:
        times = []
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            fn()
            times.append((time.perf_counter() - t0) / n * 1e6)
        return statistics.median(times)

    return {
        "shingle_us": per_item(lambda: [shingle_hashes(t, k) for t in texts], len(texts)),
        "signature_us": per_item(lambda: signatures_many(texts, k, a, b), len(texts)),
        "jaccard_us": per_item(lambda: [jaccard(x, y) for x, y in sh_pairs], len(pairs)),
        "lcs_gate_us": per_item(
            lambda: [has_common_substring(x, y, m) for x, y, m in gates], len(pairs)
        ),
    }

