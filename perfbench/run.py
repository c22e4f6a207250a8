"""kgner benchmark: seeded inputs, four workloads, outputs checked, every
metric printed by name with its unit.

    python3 perfbench/run.py --workload crawl_triples --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run it from the repository root. One process runs one workload on
local[k] (k = min(2, nproc)) as a closed loop: the next run starts when the
previous one has committed its output, for as many runs as fit in
--seconds (at least one). Set-up, one warm-up run and the output checks
happen outside that window.

--trace 0 prints the end-to-end metrics (medians over the measured runs).
--trace 1 alternates untraced and traced runs; the traced run wraps each
module call in a span and prints the per-layer metrics, including the
tracing overhead (traced minus untraced wall time). Spans are written to
.perfbench_out/trace_<workload>_<seed>.json.

--smoke runs every workload once, untraced and traced, on tiny inputs, and
fails unless every output check passes and every metric that
BENCHMARK.json names is printed with its unit.

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}.
attempted and failed count measured runs plus their Spark tasks, so
failed / attempted is the failed-operations ratio; a run fails when it
raises, when its output check fails, or when resume skipped a timed stage.
items_per_s counts triples committed (crawl_triples, hot_domain_skew),
sentence queries retrieved, tagged and voted (retrieval_ner), or input
documents deduplicated (corpus_dedup) per second of wall_s.

Which end-to-end metric each layer should move, and where:

    text.*, mentions.*, triples.*           items_per_s    crawl_triples
    canonicalize.*, io.*                    wall_s         crawl_triples
    pipeline.*, <span>.task_skew            wall_s         hot_domain_skew*
    kbbuild.*, retrieval.*, context.*,      items_per_s    retrieval_ner
    inference.*, ensemble.*
    retrieval.*, triples.*                  shuffle_write_mb
    textquality.*, dedup.*                  items_per_s    corpus_dedup
    <span>.spill_mb                         peak_rss_mb    where nonzero

A module a workload does not run reports 0 for its metrics there.

* BENCHMARK.json lists crawl_triples, retrieval_ner and corpus_dedup. Each
run starts a cold Spark JVM and takes about 35-45 s on a 4-core host;
keeping a full pass (ten-seed sets on every workload) under an hour leaves
room for three workloads. hot_domain_skew exercises the same modules as
crawl_triples; it stays runnable by name and in --smoke.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")

END_TO_END = {
    "wall_s": "s",
    "items_per_s": "items/s",
    "setup_s": "s",
    "peak_rss_mb": "MiB",
    "shuffle_write_mb": "MiB",
}

# traced span -> its time metric
SPAN_TIME = {
    "text.extract": "text.extract_s",
    "text.sentences": "text.sentences_s",
    "kbbuild.kb_sentences": "kbbuild.kb_sentences_s",
    "kbbuild.index": "kbbuild.index_s",
    "canonicalize": "canonicalize.s",
    "mentions": "mentions.s",
    "triples": "triples.s",
    "retrieval.round1": "retrieval.round1_s",
    "retrieval.round2": "retrieval.round2_s",
    "context": "context.s",
    "inference": "inference.s",
    "ensemble.strip": "ensemble.strip_s",
    "ensemble.vote": "ensemble.vote_s",
    "textquality": "textquality.s",
    "dedup.exact": "dedup.exact_s",
    "dedup.minhash": "dedup.minhash_s",
    "dedup.simhash": "dedup.simhash_s",
    "dedup.ngram_jaccard": "dedup.ngram_jaccard_s",
    "dedup.keep_min": "dedup.keep_min_s",
}
SPAN_SUFFIX = {"shuffle_write_mb": "MiB", "spill_mb": "MiB", "task_skew": "ratio"}
COUNTS = {
    "text.html_mb_in": "MiB",
    "text.sentences_out": "count",
    "pipeline.extracted_max_part_share": "ratio",
    "kbbuild.kb_sentences_out": "count",
    "kbbuild.postings_out": "count",
    "canonicalize.aliases_out": "count",
    "mentions.sentences_in": "count",
    "mentions.mentions_out": "count",
    "mentions.hit_ratio": "ratio",
    "triples.triples_out": "count",
    "io.files_written": "count",
    "io.mb_written": "MiB",
    "retrieval.queries_in": "count",
    "retrieval.terms_kept_ratio": "ratio",
    "retrieval.join_rows": "count",
    "retrieval.useful_ratio": "ratio",
    "context.contexts_in": "count",
    "context.kept_ratio": "ratio",
    "inference.tokens_in": "count",
    "ensemble.spans_in": "count",
    "ensemble.kept_ratio": "ratio",
    "textquality.kept_ratio": "ratio",
    "dedup.pairs_out": "count",
    "dedup.planted_recall": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {m: "s" for m in SPAN_TIME.values()}
    for span in SPAN_TIME:
        units.update({f"{span}.{k}": u for k, u in SPAN_SUFFIX.items()})
    units.update(COUNTS)
    units.update(
        {
            "pipeline.overhead_s": "s",
            "inference.tokens_per_s": "tokens/s",
            "trace.overhead_s": "s",
        }
    )
    return units


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


class Bench:
    """One workload in one Spark session: set-up, warm-up, the measured
    closed loop, checks and metric assembly."""

    def __init__(self, spark, workload_cls, seed: int, smoke: bool, out_dir: str):
        from harness import EventLog

        self.spark = spark
        self.out_dir = out_dir
        self.events = EventLog(spark, os.path.dirname(out_dir))
        self.wl = workload_cls(
            spark, os.path.join(out_dir, "inputs"), seed, smoke
        )
        self.n_dirs = 0

    def run_dir(self) -> str:
        self.n_dirs += 1
        return os.path.join(self.out_dir, f"run{self.n_dirs:03d}")

    def setup(self) -> float:
        """Input generation, upstream commits and one warm-up run; seconds."""
        from harness import set_group

        set_group(self.spark, "setup")
        t0 = time.perf_counter()
        self.wl.setup()
        t1 = time.perf_counter()
        warm = self.run_dir()
        self.wl.run(warm)
        t2 = time.perf_counter()
        shutil.rmtree(warm, ignore_errors=True)
        self.setup_phases = {"inputs_s": t1 - t0, "warmup_s": t2 - t1}
        return t2 - t0

    def label(self, name: str) -> str:
        """Job-group label of a run, unique within the Spark session."""
        return f"{self.wl.name}/{name}"

    def timed_run(self, label: str, sampler, tracer=None) -> dict:
        from harness import set_group

        run_dir = self.run_dir()
        set_group(self.spark, label)
        sampler.reset()
        # the root span's self time is the run's time outside module calls
        root = tracer.span("pipeline") if tracer else contextlib.nullcontext()
        t0 = time.perf_counter()
        try:
            with root:
                out = self.wl.run(run_dir, tracer)
            error = None
        except Exception as exc:  # a failed run is counted, not fatal
            out, error = None, f"{type(exc).__name__}: {exc}"
        wall = time.perf_counter() - t0
        return {
            "label": label,
            "dir": run_dir,
            "wall_s": wall,
            "peak_rss_mb": sampler.peak_mb(),
            "items": out.items if out else 0,
            # resume must never skip timed work
            "ok": out is not None and not out.skipped,
            "error": error,
        }

    def finish(self, runs: list[dict]) -> tuple[int, int, dict]:
        """Check every run's output and read its Spark counters; returns
        (attempted, failed, per-group stats)."""
        from harness import set_group

        groups = self.events.read()
        set_group(self.spark, self.label("checks"))
        attempted = failed = 0
        for r in runs:
            if r["ok"]:
                r["ok"] = self.wl.check(r["dir"])
            stats = [
                g
                for name, g in groups.items()
                if name == r["label"] or name.startswith(r["label"] + "/")
            ]
            r["tasks"] = sum(g.tasks for g in stats)
            r["failed_tasks"] = sum(g.failed_tasks for g in stats)
            r["shuffle_write_mb"] = sum(g.shuffle_write_mb for g in stats)
            attempted += 1 + r["tasks"]
            failed += (0 if r["ok"] else 1) + r["failed_tasks"]
        return attempted, failed, groups


def closed_loop(seconds: float, step) -> list:
    """Call step(i) back to back, at least once, while another call as long
    as the last one still ends within `seconds`."""
    results, t0 = [], time.perf_counter()
    while True:
        t1 = time.perf_counter()
        results.append(step(len(results)))
        t2 = time.perf_counter()
        if t2 - t0 + (t2 - t1) > seconds:
            return results


def end_to_end(bench: Bench, seconds: float, session_s: float) -> dict:
    from harness import RssSampler, median

    setup_s = session_s + bench.setup()
    with RssSampler() as sampler:
        runs = closed_loop(
            seconds, lambda i: bench.timed_run(bench.label(f"run-{i}"), sampler)
        )
    attempted, failed, _ = bench.finish(runs)
    metrics = {
        "wall_s": median(r["wall_s"] for r in runs),
        "items_per_s": median(r["items"] / r["wall_s"] for r in runs),
        "setup_s": setup_s,
        "peak_rss_mb": median(r["peak_rss_mb"] for r in runs),
        "shuffle_write_mb": median(r["shuffle_write_mb"] for r in runs),
    }
    keys = ("wall_s", "items", "peak_rss_mb", "shuffle_write_mb", "tasks", "ok", "error")
    detail = {
        "setup": dict(bench.setup_phases, session_s=session_s),
        "runs": [{k: r[k] for k in keys} for r in runs],
    }
    return _result(runs, attempted, failed, metrics, END_TO_END, detail)


def per_layer(bench: Bench, seconds: float, trace_path: str) -> dict:
    from harness import GroupStats, RssSampler, Tracer, median

    bench.setup()
    tracers: list[Tracer] = []

    def pair(i: int) -> list[dict]:
        plain = bench.timed_run(bench.label(f"run-{i}"), sampler)
        tracer = Tracer(bench.spark, bench.label(f"traced-{i}"))
        tracers.append(tracer)
        traced = bench.timed_run(tracer.run_label, sampler, tracer)
        return [plain, traced]

    with RssSampler() as sampler:
        pairs = closed_loop(seconds, pair)
    runs = [r for p in pairs for r in p]
    attempted, failed, groups = bench.finish(runs)

    samples: dict[str, list[float]] = {}
    for tracer in tracers:
        for sp in tracer.spans:
            if sp.name == "pipeline":
                overhead = tracer.self_seconds(sp)
                samples.setdefault("pipeline.overhead_s", []).append(overhead)
                continue
            samples.setdefault(SPAN_TIME[sp.name], []).append(sp.seconds)
            g = groups.get(sp.group) or GroupStats()
            sp.counts.update(tasks=g.tasks, failed_tasks=g.failed_tasks)
            for key in SPAN_SUFFIX:
                sp.counts[key] = getattr(g, key)
                samples.setdefault(f"{sp.name}.{key}", []).append(sp.counts[key])
    metrics = {name: 0.0 for name in per_layer_units()}
    metrics.update({name: median(v) for name, v in samples.items()})
    counts = bench.wl.counts(pairs[-1][1]["dir"])
    tracers[-1].spans[0].counts.update(counts)
    metrics.update(counts)
    if metrics["inference.s"] > 0:
        metrics["inference.tokens_per_s"] = (
            metrics["inference.tokens_in"] / metrics["inference.s"]
        )
    metrics["trace.overhead_s"] = median(p[1]["wall_s"] for p in pairs) - median(
        p[0]["wall_s"] for p in pairs
    )
    with open(trace_path, "w") as f:
        runs_json = [t.to_json() for t in tracers]
        json.dump({"workload": bench.wl.name, "runs": runs_json}, f, indent=1)
    detail = {"trace_file": os.path.relpath(trace_path, ROOT), "pairs": len(pairs)}
    return _result(runs, attempted, failed, metrics, per_layer_units(), detail)


def _result(runs, attempted, failed, metrics, units, detail) -> dict:
    errors = sorted({r["error"] for r in runs if r["error"]})
    return {
        "correct": all(r["ok"] for r in runs),
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: metric(metrics[name], unit) for name, unit in units.items()},
        "detail": dict(detail, errors=errors),
    }


def environment(cores: int) -> dict:
    import pyspark

    from harness import nproc

    return {
        "nproc": nproc(),
        "k": cores,
        "master": f"local[{cores}]",
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def emit(result: dict, env: dict) -> None:
    """Context line first, then the result object as the last line."""
    print(json.dumps({"environment": env, **result.pop("detail")}), flush=True)
    print(json.dumps(result), flush=True)


def smoke(cores: int) -> int:
    """Every workload once at tiny size, untraced and traced; exit status 1
    unless all checks pass and every BENCHMARK.json metric is printed."""
    from harness import start_spark, stop_spark
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    out = os.path.join(OUT, "smoke")
    shutil.rmtree(out, ignore_errors=True)
    spark = start_spark(out, cores)
    ok = True
    try:
        env = environment(cores)
        for name, cls in WORKLOADS.items():
            for trace in (0, 1):
                bench = Bench(spark, cls, 1, True, os.path.join(out, f"{name}-{trace}"))
                if trace:
                    res = per_layer(bench, 0, os.path.join(out, f"trace_{name}.json"))
                else:
                    res = end_to_end(bench, 0, 0.0)
                printed = {k: v["unit"] for k, v in res["metrics"].items()}
                good = res["correct"] and res["failed"] == 0 and printed == want[trace]
                ok &= good
                wrong = sorted(set(want[trace].items()) ^ set(printed.items()))
                line = {"workload": name, "trace": trace, "ok": good}
                line.update(missing_or_wrong_unit=wrong, **res)
                print(json.dumps(line), flush=True)
        print(json.dumps({"environment": env, "smoke_ok": ok}), flush=True)
    finally:
        stop_spark(spark)
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    # the library is imported from the checkout, by this process and by the
    # Spark Python workers it starts
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import kgner  # noqa: F401  (fails fast where the library is absent)

    from harness import bench_cores, start_spark, stop_spark
    from workloads import WORKLOADS

    cores = bench_cores()
    if args.smoke:
        return smoke(cores)
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    out = os.path.join(OUT, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    t0 = time.perf_counter()
    spark = start_spark(out, cores)
    session_s = time.perf_counter() - t0
    try:
        env = environment(cores)
        work = os.path.join(out, "work")
        bench = Bench(spark, WORKLOADS[args.workload], args.seed, False, work)
        if args.trace:
            trace_path = os.path.join(OUT, f"trace_{args.workload}_{args.seed}.json")
            result = per_layer(bench, args.seconds, trace_path)
        else:
            result = end_to_end(bench, args.seconds, session_s)
    finally:
        stop_spark(spark)
        shutil.rmtree(out, ignore_errors=True)
    emit(result, env)
    return 0


if __name__ == "__main__":
    sys.exit(main())
