"""End-to-end benchmark of the gencore_spark dedup engine.

    python3 perfbench/run.py --workload batch_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One client, one job at a time (a closed
loop) on ``local[<cores>]``.  A run generates its corpus from ``--seed`` as
parquet, starts the session, warms it (see ``Workload.setup``), then times
jobs until ``--seconds`` have passed (at least one) and checks every
output.  ``--trace 1`` instead times one untraced and one traced job and
reports per-layer metrics (see ``spans.py``).  The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

Workloads (see README.md for the rationale):

* ``batch_mixed`` — the fixture generator's default mix; ``dedup_pages``
  in memory mode.  Every layer works.
* ``delta_merge`` — the same corpus split 9:1 by a seeded random sample.
  Set-up builds the 9/10 share as a ``stages``-mode state and runs the
  whole-corpus batch job the merge is checked against; the timed job is
  ``dedup_pages_incremental`` of the 1/10 sample into a fresh out dir.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

PAGES = 3000  # corpus size; a full-size batch job is ~14 s at local[4]
KINDS = ["skew", "exact", "near", "mirror", "unique"]
WORKLOADS = ["batch_mixed", "delta_merge"]
END_TO_END = {
    "wall_s": "s",
    "docs_per_s": "1/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


class Corpus:
    """The seeded input, as parquet, plus its planted ground truth.

    Rows come from the fixture generator's row function, run in this
    process and written with pyarrow, so generation needs no Spark."""

    def __init__(self, seed: int, work: str):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq
        from gencore_spark.fixtures import corpus_spec, generate_rows

        self.path = os.path.join(work, "pages")
        rows = generate_rows(np.arange(PAGES), corpus_spec(PAGES, seed))
        # a seeded sample of exactly 1/10 of the pages: delta_merge's delta
        # (a fixed size, so docs_per_s does not vary by seed)
        rows["in_sample"] = False
        pick = np.random.default_rng(seed).choice(PAGES, PAGES // 10, replace=False)
        rows.loc[pick, "in_sample"] = True
        epoch_s = rows["warc_ts"].to_numpy().astype("datetime64[s]").astype("int64")
        # naive timestamps are UTC, the pipeline's session time zone
        rows["warc_ts"] = rows["warc_ts"].dt.tz_localize("UTC")
        os.makedirs(self.path)
        pq.write_table(
            pa.Table.from_pandas(rows, preserve_index=False),
            os.path.join(self.path, "part-0.parquet"),
        )
        self.truth = rows[["url", "dup_kind"]].assign(ts=epoch_s)
        kinds = rows.groupby("dup_kind")["true_cluster_id"]
        self.docs = kinds.size().to_dict()
        self.groups = kinds.nunique().to_dict()

    def pages(self, spark, part: str = "all"):
        """The generated parquet as the program sees it: ``all`` of it, the
        1/10 ``sample`` or the ``rest``."""
        from pyspark.sql import functions as F

        from gencore_spark.fixtures import PAGES_COLUMNS

        df = spark.read.parquet(self.path)
        if part != "all":
            df = df.filter(F.col("in_sample") == (part == "sample"))
        return df.select(*PAGES_COLUMNS)

    def per_kind(self, canonical) -> dict[str | None, tuple[int, int]]:
        """{kind: (canonical rows, Σfr)} keyed by the canonical doc's kind;
        key None counts rows that match no input page."""
        from pyspark.sql import functions as F

        out = canonical.select(
            "url", F.col("warc_ts").cast("long").alias("ts"), "fr"
        ).toPandas()
        got = out.merge(self.truth, on=["url", "ts"], how="left")
        agg = got.groupby("dup_kind", dropna=False)["fr"].agg(["size", "sum"])
        return {
            (None if isinstance(k, float) else k): (int(r["size"]), int(r["sum"]))
            for k, r in agg.iterrows()
        }


class Workload:
    """Set-up, one timed job and its output checks."""

    def __init__(self, name: str, spark, corpus: Corpus, work: str, digest: dict[str, int] | None):
        self.name = name
        self.spark = spark
        self.corpus = corpus
        self.work = work
        self.digest = digest
        # per-kind canonical counts of a batch job over the whole corpus,
        # which every timed job must equal, and where they came from
        self.reference = digest
        self.source = "digest" if digest is not None else "none"

    def _batch(self, pages, workdir: str):
        from gencore_spark import dedup_pages

        return dedup_pages(self.spark, pages, workdir, checkpoint="memory")

    def setup(self) -> list[str] | None:
        """Warm the session with untimed jobs.  Returns the problems found
        in the reference job's output, or None if set-up checked no output.

        A cold JVM's first job pays class loading, code generation and most
        JIT compilation, and that cost follows the number of Spark jobs, not
        their size (~25 s for a cold 3,000-page batch job).  The JIT keeps
        compiling through the next jobs, and the earlier a timed job runs
        in its session, the more its time scatters from run to run (see
        README.md).  batch_mixed warms with one batch job over the whole
        corpus and two cheaper ones over the 1/10 sample, so its timed job
        is the fourth of the session.  delta_merge builds its state (a
        ``stages``-mode run over the other 9/10) and then runs one batch
        job over the whole corpus, whose per-kind canonical counts become
        the reference every merge must equal, on every seed; a recorded
        digest must equal them too."""
        from gencore_spark import dedup_pages

        t0 = time.perf_counter()
        if self.name == "batch_mixed":
            self._batch(self.corpus.pages(self.spark), os.path.join(self.work, "warm0"))
            for i in (1, 2):
                self._batch(self.corpus.pages(self.spark, "sample"), os.path.join(self.work, f"warm{i}"))
            _log(f"warm-up {time.perf_counter() - t0:.2f}s")
            return None
        dedup_pages(
            self.spark, self.corpus.pages(self.spark, "rest"),
            os.path.join(self.work, "state"), checkpoint="stages",
        )
        _log(f"state build {time.perf_counter() - t0:.2f}s")
        t1 = time.perf_counter()
        out = self._batch(self.corpus.pages(self.spark), os.path.join(self.work, "reference"))
        problems, counts = self.check(out)
        _log(f"reference batch {time.perf_counter() - t1:.2f}s")
        if self.digest is not None and counts != self.digest:
            problems.append(f"reference batch per-kind canonicals {counts} != digest {self.digest}")
        self.reference, self.source = counts, "batch"
        return problems

    def n_input(self) -> int:
        return PAGES // 10 if self.name == "delta_merge" else PAGES

    def job_dir(self, i: int) -> str:
        return os.path.join(self.work, f"job{i}")

    def run_job(self, i: int):
        """The timed region: read the input, return the complete canonical
        table (memory mode counts it before returning; the delta job reads
        it back from its written snapshot)."""
        if self.name == "batch_mixed":
            return self._batch(self.corpus.pages(self.spark), self.job_dir(i))
        from gencore_spark.delta import dedup_pages_incremental

        return dedup_pages_incremental(
            self.spark, self.corpus.pages(self.spark, "sample"),
            os.path.join(self.work, "state"), self.job_dir(i),
        )

    def check(self, canonical) -> tuple[list[str], dict[str, int]]:
        """(problems, per-kind canonical counts) of one job's output, by the
        rules that hold on every seed.

        Σfr per planted kind must equal its planted docs, and every kind but
        ``near`` must come out as exactly its planted groups.  ``near``
        groups are edited copies, and the engine may legitimately split an
        edited member off its group, so ``near`` only needs at least its
        planted groups; the gap is ``planted_split``, and the digest pins
        it per seed."""
        got = self.corpus.per_kind(canonical)
        counts = {k: got.get(k, (0, 0))[0] for k in KINDS}
        problems = []
        if None in got:
            problems.append(f"{got[None][0]} canonical rows match no input page")
        for k in KINDS:
            fr = got.get(k, (0, 0))[1] or 0
            if fr != self.corpus.docs.get(k, 0):
                problems.append(f"{k}: sum(fr)={fr} != planted docs {self.corpus.docs.get(k, 0)}")
            groups = self.corpus.groups.get(k, 0)
            if counts[k] < groups or (k != "near" and counts[k] != groups):
                problems.append(f"{k}: {counts[k]} canonicals for {groups} planted groups")
        return problems, counts


def _lsh_counters(report_path: str) -> tuple[float, float]:
    with open(report_path) as f:
        stages = json.load(f)["stages"]
    rec = stages.get("s3_buckets") or stages.get("s3_edges") or {}
    return float(rec.get("n_capped_buckets", 0)), float(rec.get("max_bucket_size") or 0)


def _kernel_sample(corpus: Corpus, seed: int):
    """A fixed seeded sample of the corpus's texts and of its planted
    near-duplicate pairs (the pairs LSH hands to verify), normalized as the
    pipeline normalizes them."""
    import numpy as np
    import pyarrow.parquet as pq

    from gencore_spark.functions.textnorm import normalize_for_shingling

    t = pq.read_table(corpus.path, columns=["text", "dup_kind", "true_cluster_id", "member_rank"])
    df = t.to_pandas()
    rng = np.random.default_rng(seed)
    texts = [normalize_for_shingling(x) for x in df["text"].iloc[rng.choice(len(df), 256, replace=False)]]
    groups = df[df["dup_kind"].isin(["near", "skew"])].groupby("true_cluster_id")
    pairs = []
    for _, g in groups:
        g = g.sort_values("member_rank")
        base = normalize_for_shingling(g["text"].iloc[0])
        pairs += [(base, normalize_for_shingling(x)) for x in g["text"].iloc[1:]]
    pick = rng.choice(len(pairs), min(256, len(pairs)), replace=False)
    return texts, [pairs[i] for i in pick]


def load_digest(seed: int) -> dict[str, int] | None:
    with open(os.path.join(HERE, "digests.json")) as f:
        return json.load(f).get(f"{PAGES}:{seed}")


def start_spark(work: str, extra: dict[str, str] | None = None):
    from gencore_spark.session import get_spark

    cores = _cores()
    return get_spark(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            **(extra or {}),
        },
    )


def run(args, work: str) -> tuple[dict, int, int, list[str]]:
    from proctree import CpuReading, peak_rss_mb, reset_peak_rss
    from spans import Tracer, kernel_us

    # input generation is the benchmark's work, not the program's: untimed
    t_gen = time.perf_counter()
    corpus = Corpus(args.seed, work)
    _log(f"input {time.perf_counter() - t_gen:.2f}s")
    log_dir = os.path.join(work, "eventlog")
    extra = {}
    if args.trace:
        # the kernels run single-process, before any Spark process exists
        kernels = kernel_us(*_kernel_sample(corpus, args.seed))
        os.makedirs(log_dir)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    t_setup = time.perf_counter()
    spark = start_spark(work, extra)
    sc = spark.sparkContext
    _log(f"session {time.perf_counter() - t_setup:.2f}s")
    sc.setJobGroup("setup", "setup")
    wl = Workload(args.workload, spark, corpus, work, load_digest(args.seed))
    setup_problems = wl.setup()
    n_in = wl.n_input()
    setup_s = time.perf_counter() - t_setup
    _log(f"setup {setup_s:.2f}s")

    notes: list[str] = []
    walls, cpus, counts_of, attempted, failed = [], [], {}, 0, 0
    if setup_problems is not None:
        # delta_merge's reference batch job is checked like a timed job
        attempted += 1
        if setup_problems:
            failed += 1
            notes.append("reference job: " + "; ".join(setup_problems))
    tracer = None

    def timed(i: int, traced: bool) -> None:
        nonlocal attempted, failed, tracer
        attempted += 1
        shutil.rmtree(wl.job_dir(i - 1), ignore_errors=True)
        sc.setJobGroup("job", "job")
        try:
            cpu0 = CpuReading().total
            t0 = time.perf_counter()
            if traced:
                tracer = Tracer(spark)
                with tracer:
                    out = wl.run_job(i)
            else:
                out = wl.run_job(i)
            wall = time.perf_counter() - t0
            cpu = CpuReading().total - cpu0
            sc.setJobGroup("checks", "checks")
            problems, counts = wl.check(out)
        except Exception:
            traceback.print_exc()
            failed += 1
            return
        if problems:
            failed += 1
            notes.append(f"job {i}: " + "; ".join(problems))
            return
        _log(f"job {i} {wall:.2f}s")
        _log("per-kind canonicals " + json.dumps(counts) + " planted groups " + json.dumps(corpus.groups))
        walls.append(wall)
        cpus.append(cpu)
        counts_of[i] = counts

    metrics: dict[str, float] = {}
    if not args.trace:
        # VmHWM from here on is the timed jobs' peak, not the set-up's
        reset_peak_rss()
        t_measure = time.perf_counter()
        i = 0
        while i == 0 or time.perf_counter() - t_measure < args.seconds:
            timed(i, traced=False)
            i += 1
        rss = peak_rss_mb()
    else:
        timed(0, traced=False)
        timed(1, traced=True)
        report = os.path.join(wl.job_dir(1), "REPORT.json")
        capped, biggest = _lsh_counters(report) if os.path.exists(report) else (0.0, 0.0)

    # every job that passed the seed-independent checks must also equal a
    # batch recompute of the whole corpus
    notes.append(f"reference {wl.source}")
    if wl.reference is None:
        notes.append(f"no digest recorded for seed {args.seed}: per-kind canonicals not compared")
    for i, counts in counts_of.items():
        if wl.reference is not None and counts != wl.reference:
            failed += 1
            notes.append(f"job {i}: per-kind canonicals {counts} != {wl.source} {wl.reference}")

    if not args.trace and walls:
        wall = statistics.median(walls)
        metrics = {
            "wall_s": wall,
            "docs_per_s": n_in / wall,
            "cpu_s": statistics.median(cpus),
            "peak_rss_mb": rss,
            "setup_s": setup_s,
        }
    elif args.trace:
        spark.stop()  # flushes the event log
        if tracer is not None and len(walls) == 2:
            n_canonical = sum(counts_of[1].values())
            metrics = tracer.metrics(log_dir, n_canonical)
            metrics["exact.distinct_ratio"] = metrics["exact.distinct_text_reps.rows_out"] / n_in
            cand = (metrics["lsh.candidate_pairs.rows_out"]
                    + metrics["lsh.bucketed_pairs.rows_out"])
            metrics["verify.yield"] = metrics["verify.verify_pairs.rows_out"] / max(cand, 1.0)
            metrics["lsh.capped_buckets"] = capped
            metrics["lsh.max_bucket_size"] = biggest
            metrics["trace_overhead_s"] = walls[1] - walls[0]
            metrics.update({f"functions.{k}": v for k, v in kernels.items()})
    notes.append(f"input_pages {n_in} count")
    if counts_of:
        last = counts_of[max(counts_of)]
        notes.append(f"n_canonical {sum(last.values())} count")
        notes.append(f"planted_split {sum(last[k] - corpus.groups.get(k, 0) for k in KINDS)} count")
    notes.append(f"fail_frac {failed / max(attempted, 1)} ratio")
    return metrics, attempted, failed, notes


def units(trace: bool) -> dict[str, str]:
    if not trace:
        return END_TO_END
    from spans import FIELDS, KERNELS, RESIDUAL, SPANS

    out = {f"{s}.{f}": u for s in SPANS + [RESIDUAL] for f, u in FIELDS.items()}
    out.update({
        "trace.wall_s": "s",
        "exact.distinct_ratio": "ratio",
        "verify.yield": "ratio",
        "lsh.capped_buckets": "count",
        "lsh.max_bucket_size": "count",
        "trace_overhead_s": "s",
    })
    out.update({f"functions.{k}": "us" for k in KERNELS})
    return out


def prepare() -> str:
    """Make the empty scratch dir and point every Python, Spark and JVM
    temp file into it; returns its path."""
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    sys.path.insert(0, ROOT)
    # Spark's Python workers import gencore_spark too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # PerfDisableSharedMem: no hsperfdata file under the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:+PerfDisableSharedMem"
    )
    return work


def shutdown(work: str) -> None:
    """Stop Spark, wait for the JVM and the Python workers, drop the scratch dir."""
    from pyspark import SparkContext

    from proctree import reap_descendants

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
    reap_descendants()
    shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "gencore_spark", "__init__.py")):
        print(f"perfbench: no gencore_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2

    work = prepare()
    try:
        metrics, attempted, failed, notes = run(args, work)
    finally:
        shutdown(work)

    want = units(bool(args.trace))
    correct = failed == 0 and set(metrics) == set(want)
    for line in notes:
        print(line)
    for name, unit in want.items():
        print(f"{name} {metrics.get(name)} {unit}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in want.items() if k in metrics},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
