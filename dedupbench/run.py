#!/usr/bin/env python3
"""Closed-loop dedup benchmark for text_dedup_spark.

    python3 dedupbench/run.py --workload web-minhash --seed 1 --seconds 10 --trace 0

Run from the repository root. One client runs ``run_pipeline`` passes back to
back over a corpus generated from ``--seed``; every pass is checked against
the planted truth. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of the traced passes with ``--trace 1``.
The line before it holds the run's context: set-up and pass walls, gates
taken, host calibration, and any check failures.

Everything the run writes (corpus, outputs, Spark scratch, the native kernel
build cache) goes under ``dedupbench/.work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# Each Spark task thread drives one Python worker process, so local[N] keeps
# 2N threads busy: N = half the cores matches busy threads to cores.
CORES = max(1, len(os.sched_getaffinity(0)) // 2)
N_FILES = 2 * CORES  # input files = input partitions, two per Spark core
# Untimed warm-up: cheap passes over the corpus's first docs, the cold pass
# included, then the workload's count of full passes. Pass walls fall with
# the number of passes more than with the data they process (README.md), so
# the cheap passes take the cold start and the full passes settle the rest.
WARM_SAMPLE_DOCS = 1_000
WARM_SAMPLE_PASSES = 2


def session_conf(work: Path) -> dict[str, str]:
    return {
        "spark.driver.memory": "3g",
        "spark.sql.shuffle.partitions": str(4 * CORES),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # no hsperfdata files in the host's /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }


def _warm_task(batches):
    """Import the MinHash operator and its kernels in this Python worker
    (compile-on-first-use work included); report the worker's pid."""
    import os

    import text_dedup_spark.operators.minhash  # noqa: F401

    for b in batches:
        yield b.assign(id=os.getpid())


def set_up(work: Path):
    """Session start until every Spark core has a warmed Python worker."""
    from text_dedup_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("dedupbench", master=f"local[{CORES}]", conf=session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    pids: set[int] = set()
    for _ in range(10):
        rows = spark.range(2 * CORES).repartition(2 * CORES).mapInPandas(_warm_task, "id long")
        pids |= {r.id for r in rows.collect()}
        if len(pids) >= CORES:
            break
    return spark, time.perf_counter() - t0


def shut_down(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def release_cache(spark) -> int:
    """Count the RDDs a pass left persisted, then unpersist them all so no
    pass inherits another's cache."""
    persisted = spark.sparkContext._jsc.getPersistentRDDs()
    left = persisted.size()
    spark.catalog.clearCache()
    for rdd in list(persisted.values()):
        rdd.unpersist(True)
    return left


class Job:
    """One run_pipeline input: a corpus written as parquet, and its config."""

    def __init__(self, corpus, data: Path, config):
        import corpus as corpora

        corpora.write_parquet(corpus, data, N_FILES)
        self.corpus, self.config = corpus, config


class Runner:
    """One closed-loop client: a pass starts when the previous one ends."""

    def __init__(self, spark):
        from spans import StatusReader

        self.spark = spark
        self.sr = StatusReader(spark)
        self.passes: list[dict] = []

    def one_pass(self, job: Job, label: str) -> dict:
        from text_dedup_spark.pipeline import run_pipeline
        from workloads import check_pass

        with self.sr.span(label) as span:
            summary = run_pipeline(job.config, self.spark)
        rec = {
            "span": span,
            "wall_s": span.wall_s,
            "cpu_s": span.cpu_s,
            "shuffle_bytes": span.shuffle_bytes,
            "band_edges_mode": summary.get("band_edges_mode"),
            "cached_rdds_left": release_cache(self.spark),
            "check": check_pass(job.corpus, job.config),
        }
        self.passes.append(rec)
        return rec

    def warm_up(self, full: Job, sample: Job, full_passes: int) -> dict[str, list[float]]:
        return {
            "sample": [self.one_pass(sample, "warm")["wall_s"] for _ in range(WARM_SAMPLE_PASSES)],
            "full": [self.one_pass(full, "warm")["wall_s"] for _ in range(full_passes)],
        }

    def traced(self, job: Job, trace, *args) -> dict:
        """Run ``trace`` (a traced pass of traced.py), release its cache and
        check what it wrote: only the MinHash traced pass writes output."""
        from host import tree_cpu_s
        from workloads import check_pass

        spans: list = []
        c0, t0 = tree_cpu_s(), time.perf_counter()
        trace(self.spark, job.config, self.sr, spans, *args)
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        release_cache(self.spark)
        if job.config.algorithm.algorithm_name == "minhash":
            self.passes.append({"check": check_pass(job.corpus, job.config)})
        return {"spans": spans, "wall_s": wall, "cpu_s": cpu}


TRACED_ONLY = {"verify"}  # spans of work the workload's run_pipeline pass does not do
# per-layer metrics read from a span: {layer: [(attribute, unit)]}
LAYERS = {
    "fingerprint": [("wall_s", "s"), ("cpu_s", "s"), ("filtered_frac", "ratio")],
    "contract": [("wall_s", "s"), ("distinct_ratio", "ratio"), ("applied", "count")],
    "star_edges": [
        ("wall_s", "s"), ("band_rows", "count"), ("edges", "count"),
        ("shuffle_bytes", "B"), ("spill_bytes", "B"), ("task_skew", "ratio"),
    ],
    "cc": [("wall_s", "s"), ("edges_in", "count"), ("nodes", "count"), ("jobs", "count"), ("shuffle_bytes", "B")],
    "assign": [("wall_s", "s"), ("shuffle_bytes", "B")],
    "verify": [
        ("wall_s", "s"), ("cpu_s", "s"), ("candidates", "count"),
        ("confirmed_frac", "ratio"), ("shuffle_bytes", "B"), ("spill_bytes", "B"),
    ],
    "simhash_fingerprint": [("wall_s", "s"), ("cpu_s", "s")],
    "simhash_edges": [("wall_s", "s"), ("edges", "count"), ("shuffle_bytes", "B"), ("task_skew", "ratio")],
    "simhash_verify": [("wall_s", "s"), ("cpu_s", "s"), ("candidates", "count"), ("confirmed_frac", "ratio")],
    "suffix": [
        ("wall_s", "s"), ("cpu_s", "s"), ("task_skew", "ratio"), ("spill_bytes", "B"),
        ("jobs", "count"), ("anchored", "count"),
    ],
    "read": [("wall_s", "s"), ("rows", "count")],
    "write": [("wall_s", "s"), ("bytes", "B"), ("rows", "count")],
}


def trend(walls: list[float]) -> float:
    """Least-squares slope of the walls per pass, as a share of their mean."""
    if len(walls) < 2:
        return 0.0
    return statistics.linear_regression(range(len(walls)), walls).slope / statistics.mean(walls)


def end_to_end(runner: Runner, wl, full: Job, sample: Job, setup_wall: float, seconds: float):
    from host import reset_peak_rss, tree_peak_rss_mb

    warm = runner.warm_up(full, sample, wl.warm_passes)
    reset_peak_rss()  # the peak of the timed passes, not of the warm-up
    timed: list[dict] = []
    t0 = time.perf_counter()
    while not timed or time.perf_counter() - t0 < seconds:
        timed.append(runner.one_pass(full, "timed"))
    n = len(full.corpus)
    kdocs = n * len(timed) / 1e3
    walls = [p["wall_s"] for p in timed]
    metrics = {
        "setup_s": (setup_wall, "s"),
        "docs_per_s": (n * len(timed) / sum(walls), "docs/s"),
        "cpu_s_per_kdoc": (sum(p["cpu_s"] for p in timed) / kdocs, "s"),
        "peak_rss_mb": (tree_peak_rss_mb(), "MB"),
        "shuffle_mb_per_kdoc": (sum(p["shuffle_bytes"] for p in timed) / 2**20 / kdocs, "MB"),
    }
    for score in ("pair_recall", "pair_precision"):
        metrics[score] = (statistics.median(p["check"].scores[score] for p in timed), "ratio")
    context = {
        "setup_wall_s": setup_wall,
        "warmup_walls_s": warm,
        "timed_walls_s": walls,
        "timed_trend": trend(walls),
        "cached_rdds_left": [p["cached_rdds_left"] for p in timed],
        "band_edges_mode": timed[-1]["band_edges_mode"],
    }
    return metrics, context


def cross_check(pass_rec: dict, traced: dict) -> dict:
    """The traced pass against the run_pipeline pass before it; spans of
    work the pass does not do (``TRACED_ONLY``) are left out."""
    spans = [s for s in traced["spans"] if s.name not in TRACED_ONLY]
    return {
        "pass_shuffle_bytes": pass_rec["shuffle_bytes"],
        "traced_shuffle_bytes": sum(s.shuffle_bytes for s in spans),
        "pass_jobs": pass_rec["span"].jobs,
        "traced_jobs": sum(s.jobs for s in spans),
    }


def simhash_suffix(runner: Runner, seed: int, work: Path) -> tuple[dict, dict, dict]:
    """Warm SimHash and suffix dedup with two run_pipeline passes each over
    a span corpus, then trace one pass of each. Returns the last suffix
    pass's check scores, the cross-checks and the traced spans."""
    import corpus as corpora
    import traced
    from workloads import SPAN_DOCS, simhash_config, suffix_config

    spans_corpus = corpora.with_spans(SPAN_DOCS, seed)
    data = work / "span-input"
    jobs = {
        "simhash": Job(spans_corpus, data, simhash_config(data, work / "out-simhash")),
        "suffix": Job(spans_corpus, data, suffix_config(data, work / "out-suffix")),
    }
    spans, wall, cpu, cross = [], 0.0, 0.0, {}
    for name, trace in (("simhash", traced.simhash_pass), ("suffix", traced.suffix_pass)):
        for _ in range(2):
            rec = runner.one_pass(jobs[name], "warm")
        t = runner.traced(jobs[name], trace)
        spans += t["spans"]
        wall += t["wall_s"]
        cpu += t["cpu_s"]
        cross[name] = cross_check(rec, t)
    # the suffix form the program took, next to the one the traced pass took
    cross["suffix"]["pass_anchored"] = int(any(traced.ANCHORED in p for p in runner.sr.plans(rec["span"])))
    return rec["check"].scores, cross, {"spans": spans, "wall_s": wall, "cpu_s": cpu}


def per_layer(runner: Runner, wl, full: Job, sample: Job, setup_wall: float, seed: int, work: Path):
    """Warm up, trace one MinHash pass over the workload's corpus, then the
    SimHash and suffix passes over the span corpus (the same on every
    workload)."""
    import traced
    from text_dedup_spark.kernels import sa_native

    warm = runner.warm_up(full, sample, wl.warm_passes)
    cached_left = statistics.median(p["cached_rdds_left"] for p in runner.passes)
    last = runner.passes[-1]
    salted = last["band_edges_mode"] == "salted"
    contracted = any(traced.CONTRACTED in p for p in runner.sr.plans(last["span"]))
    # untimed, over the sample: warms the code paths that only the traced
    # pass runs (the verify span above all)
    runner.traced(sample, traced.minhash_pass, salted, contracted)
    mh = runner.traced(full, traced.minhash_pass, salted, contracted)
    cross = {"minhash": cross_check(last, mh)}
    suffix_scores, more, extra = simhash_suffix(runner, seed, work)
    cross.update(more)
    spans = mh["spans"] + extra["spans"]
    trace_wall, trace_cpu = mh["wall_s"] + extra["wall_s"], mh["cpu_s"] + extra["cpu_s"]

    by_name = {s.name: s for s in spans}  # one span per layer

    def get(layer: str, attr: str) -> float:
        s = by_name.get(layer)
        if s is None:
            return 0
        return s.counts[attr] if attr in s.counts else getattr(s, attr)

    m = {f"{layer}.{attr}": (get(layer, attr), unit) for layer, attrs in LAYERS.items() for attr, unit in attrs}
    for layer, rows in (("fingerprint", "rows"), ("simhash_fingerprint", "rows")):
        cpu = get(layer, "cpu_s")
        m[f"{layer}.docs_per_cpu_s"] = (get(layer, rows) / cpu if cpu else 0.0, "docs/s")
    pass_shuffle = cross["minhash"]["pass_shuffle_bytes"]
    m.update(
        {
            "suffix.removed_bytes": (suffix_scores["removed_bytes"], "B"),
            "suffix.span_recall": (suffix_scores["span_recall"], "ratio"),
            "suffix.native": (int(sa_native.available()), "count"),
            "pipeline.cached_rdds_left": (cached_left, "count"),
            "pipeline.band_edges_salted": (int(salted), "count"),
            "trace.wall_s": (trace_wall, "s"),
            "trace.cpu_s": (trace_cpu, "s"),
            "trace.overhead_s": (
                mh["wall_s"] - sum(get(n, "wall_s") for n in TRACED_ONLY) - statistics.median(warm["full"][-2:]),
                "s",
            ),
            "trace.layer_share": (sum(s.wall_s for s in spans) / trace_wall, "ratio"),
            "trace.shuffle_ratio": (
                cross["minhash"]["traced_shuffle_bytes"] / pass_shuffle if pass_shuffle else 0.0,
                "ratio",
            ),
            "warmup.cold_pass_s": (warm["sample"][0], "s"),
            "warmup.passes": (len(warm["sample"]) + len(warm["full"]), "count"),
        }
    )
    context = {
        "setup_wall_s": setup_wall,
        "warmup_walls_s": warm,
        "spans": [(s.name, round(s.wall_s, 4), s.jobs) for s in spans],
        "cross_check": cross,
    }
    return m, context


def run(args, work: Path) -> tuple[dict, dict, Runner]:
    import corpus as corpora
    from host import cpu_times, steal_pct
    from tools.hostcal import cpu_calib_sec

    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    corpus = wl.make_corpus(args.seed)
    full = Job(corpus, work / "input", wl.config(work / "input", work / "out"))
    sample = Job(
        corpora.head(corpus, WARM_SAMPLE_DOCS),
        work / "warm-input",
        wl.config(work / "warm-input", work / "out"),
    )

    calib_before, stat_before = cpu_calib_sec(), cpu_times()
    spark, setup_wall = set_up(work)
    try:
        runner = Runner(spark)
        if args.trace:
            metrics, context = per_layer(runner, wl, full, sample, setup_wall, args.seed, work)
        else:
            metrics, context = end_to_end(runner, wl, full, sample, setup_wall, args.seconds)
    finally:
        shut_down(spark)
    host = {
        "calib_before_s": calib_before,
        "calib_after_s": cpu_calib_sec(),
        "steal_pct": steal_pct(stat_before, cpu_times()),
    }
    if args.trace:
        metrics.update({f"host.{k}": (v, "%" if k == "steal_pct" else "s") for k, v in host.items()})
    context["host"] = host
    return metrics, context, runner


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / "text_dedup_spark" / "pipeline.py").is_file():
        print(f"dedupbench: no text_dedup_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"dedupbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # on SIGTERM, unwind through the finally blocks: stop the JVM, remove work
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    # inherited by the driver JVM and the Python workers: the program's
    # import path, and scratch space (the native kernel's build cache
    # included) inside the run's own directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (str(ROOT), os.environ.get("PYTHONPATH")) if x
    )
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["XDG_CACHE_HOME"] = str(work / "cache")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        metrics, context, runner = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    checked = [p["check"] for p in runner.passes]
    failed = sum(not c.ok for c in checked)
    context["failures"] = sorted({r for c in checked for r in c.reasons})
    print(json.dumps({"context": context}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(checked),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
