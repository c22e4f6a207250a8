"""Spark jobs, stages, seconds and shuffle per Pipeline stage on a benchmark workload.

Builds the inputs of a perfbench workload (crawl_triples or retrieval_ner)
with perfbench's generator, then runs the workload's own measured run
(`Workload.run`) `--runs` times, each in a fresh directory, on a session made
the way the benchmark makes it (`perfbench.harness.start_spark`: the same
heap, shuffle partitions and event log). During a run, the workload's
Pipeline stage methods (and, for retrieval_ner, the predictions write) are
wrapped so that the jobs they submit land in a job group that this tool sets
(`stage_jobs/run<N>/<group>`). A wrapped call restores the enclosing group
when it returns: the index stage, which the first retrieval round calls, is
a group of its own, and its seconds are not counted again in the round's.

Groups:
- crawl_triples: inputs, extracted, sentences, kb_sentences, canonical,
  mentions, triples, other;
- retrieval_ner: inputs, index, retrievals, retrievals2, predictions,
  ensembled, other.

`inputs` holds the workload's reads of its input tables, `other` the rest of
the run (plan building, and for crawl_triples Pipeline.run's read of the
committed triples). kgner itself sets no job group. Jobs, stages and seconds
come from the SparkContext's status tracker; a stage is counted when it ran
at least one task (a shuffle map stage that an adaptive plan reuses from an
earlier job is not counted again). Shuffle KiB per group is the sum of the
task shuffle-write bytes in the session's event log, each stage assigned to
the job group of the first job that lists it — the benchmark's own
`shuffle_write_mb` accounting.

The first run also warms the JVM, so compare the later runs; the job counts
and shuffle bytes should repeat from run to run.

Usage (from the repository root):
    python tools/stage_jobs.py [--workload crawl_triples] [--seed 1] [--runs 3]
        [--cores 2]

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
from collections import defaultdict
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# per workload: (group, Pipeline method) in run order, and the io.write_table
# calls of the workload's own run that get a group of their own
WORKLOADS = {
    "crawl_triples": (
        (
            ("extracted", "stage_extracted"),
            ("sentences", "stage_sentences"),
            ("kb_sentences", "stage_kb"),
            ("canonical", "stage_canonical"),
            ("mentions", "stage_mentions"),
            ("triples", "stage_triples"),
        ),
        (),
    ),
    "retrieval_ner": (
        (
            ("index", "stage_index"),
            ("retrievals", "stage_retrievals"),
            ("retrievals2", "stage_retrievals2"),
            ("ensembled", "stage_ensemble"),
        ),
        ("predictions",),
    ),
}


class GroupCounter:
    """Jobs, run stages, exclusive seconds and shuffle bytes of the job
    groups set through it."""

    def __init__(self, spark, out_dir: str):
        from perfbench.harness import EventLog

        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.events = EventLog(spark, out_dir)
        self.seconds: dict[str, float] = defaultdict(float)
        self.nested: list[float] = []  # seconds of inner groups, per level

    def set(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def timed(self, group: str, fn):
        """fn wrapped to run under `group`; the enclosing group is restored
        when it returns, and its seconds exclude this call's."""

        @functools.wraps(fn)
        def run(*args, **kwargs):
            outer = self.sc.getLocalProperty("spark.jobGroup.id")
            self.set(group)
            self.nested.append(0.0)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                took = time.perf_counter() - t0
                self.seconds[group] += took - self.nested.pop()
                if self.nested:
                    self.nested[-1] += took
                self.set(outer)

        return run

    def stats(self, groups: list[str]) -> dict[str, dict]:
        # the tracker is fed by the listener bus: drain it so no job is missed
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        shuffle = self.events.read()
        out = {}
        for group in groups:
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
            written = shuffle[group].shuffle_write_bytes if group in shuffle else 0
            out[group] = {
                "jobs": len(jobs),
                "stages": ran,
                "s": round(self.seconds.get(group, 0.0), 3),
                "shuffle_kib": round(written / 1024.0, 1),
            }
        return out


@contextmanager
def wrapped(counter: GroupCounter, prefix: str, workload: str, wl):
    """The workload's stage methods, input reads and named writes, each
    running under its own group while the block is open."""
    from kgner import io
    from kgner.pipeline import Pipeline

    stages, writes = WORKLOADS[workload]
    saved = []

    def patch(obj, attr, new):
        saved.append((obj, attr, obj.__dict__.get(attr)))
        setattr(obj, attr, new)

    for name, method in stages:
        patch(Pipeline, method, counter.timed(f"{prefix}/{name}", getattr(Pipeline, method)))
    patch(wl, "table", counter.timed(f"{prefix}/inputs", wl.table))
    write = io.write_table

    def write_table(df, workdir, name, *args, **kwargs):
        fn = counter.timed(f"{prefix}/{name}", write) if name in writes else write
        return fn(df, workdir, name, *args, **kwargs)

    patch(io, "write_table", write_table)
    try:
        yield
    finally:
        for obj, attr, old in reversed(saved):
            if old is None:
                delattr(obj, attr)
            else:
                setattr(obj, attr, old)


def one_run(wl, workload: str, counter: GroupCounter, prefix: str, run_dir: str) -> dict:
    other = f"{prefix}/other"
    counter.set(other)
    with wrapped(counter, prefix, workload, wl):
        out = counter.timed(other, wl.run)(run_dir)
    if out.skipped:
        raise SystemExit(f"resume skipped {out.skipped}: run directory not fresh")
    stages, writes = WORKLOADS[workload]
    groups = ["inputs", *(name for name, _ in stages), *writes, "other"]
    stats = counter.stats([f"{prefix}/{g}" for g in groups])
    return {g: stats[f"{prefix}/{g}"] for g in groups}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), default="crawl_triples")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--cores", type=int, default=2)
    args = ap.parse_args(argv)

    from perfbench.harness import start_spark, stop_spark
    from perfbench.workloads import CrawlTriples, RetrievalNer

    cls = {"crawl_triples": CrawlTriples, "retrieval_ner": RetrievalNer}[args.workload]
    tmp = tempfile.mkdtemp(prefix="stage_jobs_")
    spark = start_spark(tmp, args.cores)
    counter = GroupCounter(spark, tmp)
    runs = []
    try:
        counter.set("stage_jobs/setup")
        wl = cls(spark, os.path.join(tmp, "inputs"), args.seed, smoke=False)
        wl.setup()
        for i in range(args.runs):
            run_dir = os.path.join(tmp, f"run{i}")
            runs.append(one_run(wl, args.workload, counter, f"stage_jobs/run{i}", run_dir))
            if not wl.check(run_dir):
                raise SystemExit(f"run {i}: output differs from the oracle's")
            shutil.rmtree(run_dir, ignore_errors=True)
    finally:
        stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    keys = ("jobs", "stages", "s", "shuffle_kib")
    for i, run in enumerate(runs):
        print(f"run {i}")
        print(f"  {'group':<14}{'jobs':>6}{'stages':>8}{'s':>8}{'shuffle KiB':>13}")
        rows = [*run.items(), ("total", {k: sum(r[k] for r in run.values()) for k in keys})]
        for g, r in rows:
            print(
                f"  {g:<14}{r['jobs']:>6}{r['stages']:>8}{r['s']:>8.3f}"
                f"{r['shuffle_kib']:>13.1f}"
            )
    print(
        json.dumps(
            {"workload": args.workload, "seed": args.seed, "cores": args.cores, "runs": runs}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
