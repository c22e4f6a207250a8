"""Spark-job budget of the core Pipeline on the test fixtures.

At benchmark size a run's time follows its number of Spark jobs, so a job
that does no data work (a schema-inference read, an extra dedup shuffle, a
checkpoint of a driver-built table) is a regression even when every output
row is right. This test fails on such a job, not only the benchmark.
"""

from kgner.pipeline import Pipeline, PipelineConfig

# Pipeline.run() on the session fixtures (local[4], 8 shuffle partitions).
# Jobs per stage, measured:
#   extracted     1  the write (map-only)
#   sentences     1  the write (map-only; extracted is read without a job)
#   kb_sentences  2  the row_number dedup shuffle, the write
#   canonical     2  one probe collect of the edges and the KB titles
#                    together (one task over the coalesced inputs; no
#                    distinct shuffle before it, no separate title collect),
#                    the write of the driver-built map
#   mentions      2  the canonical collect for the alias index, the write
#   triples       4  the canonical broadcast (one, reused by both joins), the
#                    per-sentence collect_set shuffle, the one dedup shuffle
#                    over the union, the write
#   return        0  Pipeline.run's read of the committed triples
# total 12. A committed-table read that infers its schema adds one job per
# read (7 reads), a dedup shuffle per triple part adds one each, and the
# Spark-side canonical map adds its representative joins and checkpoint.
# A distinct over the alias edges adds its shuffle job, a title collect of
# its own adds one, and a probe limit() over the uncoalesced inputs adds a
# job per round of partitions it scans.
BUDGET = {
    "extracted": 1,
    "sentences": 1,
    "kb_sentences": 2,
    "canonical": 2,
    "mentions": 2,
    "triples": 4,
    "return": 0,
}
METHODS = {
    "extracted": "stage_extracted",
    "sentences": "stage_sentences",
    "kb_sentences": "stage_kb",
    "canonical": "stage_canonical",
    "mentions": "stage_mentions",
    "triples": "stage_triples",
}


def test_core_pipeline_job_budget(spark, tables, job_group, tmp_path):
    pipe = Pipeline(
        spark,
        PipelineConfig(workdir=str(tmp_path)),
        tables["pages"],
        tables["kb_pages"],
        tables["redirects"],
    )
    jobs: dict[str, list[int]] = {}

    def counted(name, fn):
        def run():
            with job_group() as ids:
                fn()
            jobs[name] = ids

        return run

    for name, method in METHODS.items():
        setattr(pipe, method, counted(name, getattr(pipe, method)))
    with job_group() as jobs["return"]:  # run()'s own work outside stages
        out = pipe.run()
    assert pipe.ran == list(METHODS)
    got = {name: len(ids) for name, ids in jobs.items()}
    assert all(got[name] <= BUDGET[name] for name in BUDGET), (got, BUDGET)
    assert out.columns == ["subj", "pred", "obj", "url", "subj_bucket"]


# Pipeline's index stage on the session fixtures, jobs measured:
#   postings  1  the write (map-only: each kb_sentences row is one doc_id,
#                so term_frequencies counts inside the row; kb_sentences is
#                read without a job)
#   docs      1  the write (map-only)
# total 2. A (term, doc_id) groupBy over the exploded tokens runs its shuffle
# as a job of its own before the postings write (3).
INDEX_BUDGET = 2


def test_index_stage_job_budget(spark, tables, job_group, tmp_path):
    pipe = Pipeline(
        spark,
        PipelineConfig(workdir=str(tmp_path), stages=["kb_sentences"]),
        tables["pages"],
        tables["kb_pages"],
        tables["redirects"],
    )
    pipe.run()
    with job_group() as jobs:
        pipe.stage_index()
    assert len(jobs) <= INDEX_BUDGET, jobs
    assert pipe._index is not None and not pipe.skipped
