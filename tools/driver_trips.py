"""Driver-side fixed cost of the dedup operators: py4j round trips and seconds.

For each operator that the corpus_dedup benchmark times, this builds the
operator's plan (the operator call itself, including any driver jobs it runs
while building, such as connected_components' probe collects), then executes
it to a no-op sink. Every py4j command the driver sends to the JVM is counted
by wrapping py4j.clientserver.ClientServerConnection.send_command. perfbench
reports wall time per span but not this count, which is the part of a span
that does not shrink with the input.

Input: the corpus_dedup generator's documents (600 by default), written to
one parquet file and read back, as the benchmark does.

Usage (from the repository root):
    python tools/driver_trips.py [--docs 600] [--seed 1] [--cores 2]

Prints one line per operator and a JSON object as the last line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


class TripCounter:
    """Counts py4j commands sent while `counting()` is active."""

    def __init__(self):
        from py4j.clientserver import ClientServerConnection

        self.trips = 0
        self._cls = ClientServerConnection
        self._orig = ClientServerConnection.send_command
        counter = self

        def send_command(conn, command):
            counter.trips += 1
            return counter._orig(conn, command)

        ClientServerConnection.send_command = send_command

    def close(self):
        self._cls.send_command = self._orig

    @contextmanager
    def counting(self, out: dict, key: str):
        start, t0 = self.trips, time.perf_counter()
        yield
        out[f"{key}_s"] = round(time.perf_counter() - t0, 3)
        out[f"{key}_trips"] = self.trips - start


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--docs", type=int, default=600)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cores", type=int, default=2)
    args = ap.parse_args(argv)

    from py4j.clientserver import ClientServer
    from pyspark import SparkContext

    from kgner.operators.dedup import (
        dedup_keep_min,
        exact_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_near_pairs,
    )
    from kgner.session import get_spark
    from perfbench.workloads import make_documents

    spark = get_spark(
        "driver-trips", master=f"local[{args.cores}]", shuffle_partitions=2 * args.cores
    )
    spark.sparkContext.setLogLevel("ERROR")
    if not isinstance(SparkContext._gateway, ClientServer):
        raise SystemExit("needs pinned-thread mode (a py4j ClientServer gateway)")
    rows, _ = make_documents(args.docs, args.seed)

    counter = TripCounter()
    report: dict[str, dict] = {}
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "documents")
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(src)
        docs = spark.read.parquet(src)
        near = {
            "minhash": lambda: minhash_lsh_pairs(docs, threshold=0.8),
            "simhash": lambda: simhash_near_pairs(docs, max_hamming=3),
            "ngram_jaccard": lambda: ngram_jaccard_pairs(docs, threshold=0.8),
        }
        ops = {"exact": lambda: exact_dedup(docs), **near}
        for name, build in ops.items():
            out = report[name] = {}
            with counter.counting(out, "build"):
                df = build()
            with counter.counting(out, "run"):
                if name in near:
                    df = df.select("doc_a", "doc_b")
                    df.write.parquet(os.path.join(tmp, f"pairs_{name}"))
                else:
                    df.write.format("noop").mode("overwrite").save()
        pairs = None
        for name in near:
            p = spark.read.parquet(os.path.join(tmp, f"pairs_{name}"))
            pairs = p if pairs is None else pairs.unionByName(p)
        out = report["keep_min"] = {}
        with counter.counting(out, "build"):
            df = dedup_keep_min(docs, pairs.distinct())
        with counter.counting(out, "run"):
            df.write.format("noop").mode("overwrite").save()
    counter.close()
    spark.stop()

    print(f"{'operator':<14}{'build_trips':>12}{'build_s':>9}{'run_trips':>11}{'run_s':>8}")
    for name, r in report.items():
        print(
            f"{name:<14}{r['build_trips']:>12}{r['build_s']:>9.3f}"
            f"{r['run_trips']:>11}{r['run_s']:>8.3f}"
        )
    total = sum(r["build_trips"] + r["run_trips"] for r in report.values())
    print(json.dumps({"docs": args.docs, "seed": args.seed, "total_trips": total, **report}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
