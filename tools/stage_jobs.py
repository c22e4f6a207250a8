"""Spark jobs, stages and seconds per Pipeline stage on the crawl_triples inputs.

Builds the crawl_triples benchmark inputs with perfbench's generator, then
runs `Pipeline.run()` on them `--runs` times, each run in a fresh directory.
Every stage method of the run's Pipeline is wrapped so that the jobs it
submits land in a job group that this tool sets
(`stage_jobs/run<N>/<stage>`); the group of the run's remaining work is
`other` (Pipeline.run's read of the committed triples), and `inputs` holds
the reads of the three input tables that the benchmark's run makes before
it calls `Pipeline.run()`. kgner itself sets no job group. Jobs, stages and
seconds per group come from the SparkContext's status tracker; a stage is
counted when it ran at least one task (a shuffle map stage that an
adaptive plan reuses from an earlier job is not counted again).

The first run also warms the JVM, so compare the later runs; the job
counts should repeat exactly from run to run.

Usage (from the repository root):
    python tools/stage_jobs.py [--seed 1] [--runs 3] [--cores 2]

Prints one table per run and a JSON object as the last line.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Pipeline.run's stage names and the methods that build them, in run order
STAGES = (
    ("extracted", "stage_extracted"),
    ("sentences", "stage_sentences"),
    ("kb_sentences", "stage_kb"),
    ("canonical", "stage_canonical"),
    ("mentions", "stage_mentions"),
    ("triples", "stage_triples"),
)


class GroupCounter:
    """Jobs, run stages and seconds of the job groups set through it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.seconds: dict[str, float] = {}

    def set(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def timed(self, group: str, fn, after: str):
        """fn wrapped to run under `group`, then switch to `after`."""

        @functools.wraps(fn)
        def run(*args, **kwargs):
            self.set(group)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds[group] = time.perf_counter() - t0
                self.set(after)

        return run

    def stats(self, group: str) -> dict:
        # the tracker is fed by the listener bus: drain it so no job is missed
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = self.tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        ran = 0
        for s in stage_ids:
            info = self.tracker.getStageInfo(s)
            if info is not None and info.numCompletedTasks + info.numFailedTasks > 0:
                ran += 1
        return {
            "jobs": len(jobs),
            "stages": ran,
            "s": round(self.seconds.get(group, 0.0), 3),
        }


def one_run(wl, counter: GroupCounter, prefix: str, run_dir: str) -> dict:
    other = f"{prefix}/other"
    pipe = counter.timed(f"{prefix}/inputs", wl.pipeline, after=other)(run_dir)
    for name, method in STAGES:
        wrapped = counter.timed(f"{prefix}/{name}", getattr(pipe, method), other)
        setattr(pipe, method, wrapped)
    t0 = time.perf_counter()
    pipe.run()
    total = time.perf_counter() - t0
    counter.seconds[other] = total - sum(
        counter.seconds[f"{prefix}/{name}"] for name, _ in STAGES
    )
    if pipe.skipped:
        raise SystemExit(f"resume skipped {pipe.skipped}: run directory not fresh")
    groups = ["inputs", *(name for name, _ in STAGES), "other"]
    return {g: counter.stats(f"{prefix}/{g}") for g in groups}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--cores", type=int, default=2)
    args = ap.parse_args(argv)

    from kgner.session import get_spark
    from perfbench.workloads import CrawlTriples

    spark = get_spark(
        "stage-jobs", master=f"local[{args.cores}]", shuffle_partitions=2 * args.cores
    )
    spark.sparkContext.setLogLevel("ERROR")
    counter = GroupCounter(spark)
    runs = []
    tmp = tempfile.mkdtemp(prefix="stage_jobs_")
    try:
        counter.set("stage_jobs/setup")
        wl = CrawlTriples(spark, os.path.join(tmp, "inputs"), args.seed, smoke=False)
        wl.setup()
        for i in range(args.runs):
            run_dir = os.path.join(tmp, f"run{i}")
            runs.append(one_run(wl, counter, f"stage_jobs/run{i}", run_dir))
            if not wl.check(run_dir):
                raise SystemExit(f"run {i}: triples differ from the oracle's")
            shutil.rmtree(run_dir, ignore_errors=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()

    for i, run in enumerate(runs):
        print(f"run {i}")
        print(f"  {'group':<14}{'jobs':>6}{'stages':>8}{'s':>8}")
        for g, r in run.items():
            print(f"  {g:<14}{r['jobs']:>6}{r['stages']:>8}{r['s']:>8.3f}")
        tot = {k: sum(r[k] for r in run.values()) for k in ("jobs", "stages", "s")}
        print(f"  {'total':<14}{tot['jobs']:>6}{tot['stages']:>8}{tot['s']:>8.3f}")
    print(json.dumps({"seed": args.seed, "cores": args.cores, "runs": runs}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
