"""spark-submit entry point.

    spark-submit --py-files kgner.zip kgner/run.py \
        --workdir /data/kg_run1 --pages <path> --kb <path> --redirects <path> \
        [--no-resume] [--salt-buckets 16]

Without --pages the deterministic fixture tables are generated (smoke mode).
Resume: rerunning with the same --workdir skips committed stages.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# `python kgner/run.py` puts kgner/ itself (not its parent) on sys.path;
# spark-submit ships the zip instead — support both invocations
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--pages")
    ap.add_argument("--kb")
    ap.add_argument("--redirects")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--salt-buckets", type=int, default=0)
    ap.add_argument(
        "--stages",
        default=None,
        help="comma list of stages to run (default: the core path; "
        "add retrievals/retrievals2 for the context/iterative rounds, which "
        "build the index stage (postings, docs) themselves when it is not "
        "committed; add index to build it alone)",
    )
    ap.add_argument("--max-text-chars", type=int, default=None)
    args = ap.parse_args()

    from kgner.pipeline import Pipeline, PipelineConfig
    from kgner.session import get_spark

    spark = get_spark("kgner-run")
    if args.pages:
        pages = spark.read.parquet(args.pages)
        kb_pages = spark.read.parquet(args.kb)
        redirects = spark.read.parquet(args.redirects)
    else:
        from kgner.fixtures import build_fixtures, to_spark

        t = to_spark(spark, build_fixtures())
        pages, kb_pages, redirects = t["pages"], t["kb_pages"], t["redirects"]

    cfg = PipelineConfig(
        workdir=args.workdir,
        resume=not args.no_resume,
        salt_buckets=args.salt_buckets,
        max_text_chars=args.max_text_chars,
    )
    if args.stages:
        cfg.stages = [s.strip() for s in args.stages.split(",") if s.strip()]
    valid = {
        "extracted", "sentences", "kb_sentences", "index", "canonical",
        "mentions", "retrievals", "retrievals2", "ensembled", "triples",
    }
    unknown = set(cfg.stages) - valid
    if unknown:
        raise SystemExit(
            f"unknown stage(s) {sorted(unknown)}; valid: {sorted(valid)}"
        )

    pipe = Pipeline(spark, cfg, pages, kb_pages, redirects)
    triples = pipe.run()
    print(
        json.dumps(
            {
                "triples": triples.count() if triples is not None else None,
                "ran": pipe.ran,
                "skipped": pipe.skipped,
                "lineage": pipe.lineage.read_all(),
            }
        )
    )


if __name__ == "__main__":
    main()
