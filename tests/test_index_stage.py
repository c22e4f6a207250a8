"""The committed BM25 index stage: built once per run, read by both
retrieval rounds, and rebuilt (never served) when the analyzer config that
built it differs from the current one."""

import os
import shutil

from pyspark.sql import functions as F

from kgner.fixtures import build_fixtures, to_spark
from kgner.pipeline import INDEX_TABLES, Pipeline, PipelineConfig

UPSTREAM = ["extracted", "sentences", "kb_sentences", "canonical", "mentions"]


def _tables(spark, zh_kb_page=False):
    t = to_spark(spark, build_fixtures(n_entities=10, n_pages=10, giant_pages=0))
    if zh_kb_page:
        # the fixture KB is all-en; one zh page makes the per-language
        # analyzer change the postings
        zh = spark.createDataFrame(
            [
                (
                    "河流故事",
                    [("河流的故事很长。山谷与港口之间有一座桥梁。", [])],
                    "zh",
                )
            ],
            t["kb_pages"].schema,
        )
        t["kb_pages"] = t["kb_pages"].unionByName(zh)
    return t


def _pipe(spark, t, workdir, stages, **cfg_kw):
    cfg = PipelineConfig(workdir=workdir, stages=stages, **cfg_kw)
    return Pipeline(spark, cfg, t["pages"], t["kb_pages"], t["redirects"])


def _count_writes(pipe) -> list[str]:
    written: list[str] = []
    write = pipe._write

    def spy(name, *args, **kwargs):
        written.append(name)
        write(name, *args, **kwargs)

    pipe._write = spy
    return written


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_index_built_once_per_run(spark, tmp_path):
    """Both rounds in one run: postings/docs written exactly once, nothing
    counted as a resume skip, and round 2 equals bm25_topk over an inline
    kb_index of the same kb_sentences."""
    from kgner.operators.kbbuild import kb_index
    from kgner.operators.retrieval import bm25_topk

    wd = str(tmp_path / "wd")
    pipe = _pipe(spark, _tables(spark), wd, UPSTREAM + ["retrievals", "retrievals2"])
    written = _count_writes(pipe)
    pipe.run()
    for t in INDEX_TABLES:
        assert written.count(t) == 1, written
    assert pipe.skipped == []
    lin = {r["stage"]: r for r in pipe.lineage.read_all()}
    assert lin["postings"]["inputs"] == ["kb_sentences"]
    assert lin["retrievals2"]["inputs"] == ["sentences", "postings", "docs", "mentions"]

    postings, docs = kb_index(spark.read.parquet(os.path.join(wd, "kb_sentences")))
    sents = spark.read.parquet(os.path.join(wd, "sentences"))
    queries = sents.select(
        F.xxhash64("url", "sent_id").alias("query_id"),
        F.transform("tokens", lambda t: F.lower(t)).alias("tokens"),
    )
    boosts = spark.read.parquet(os.path.join(wd, "mentions")).select(
        F.xxhash64("url", "sent_id").alias("query_id"),
        F.col("entity_id").alias("entity"),
    ).distinct()
    cols = ["query_id", "rank", "doc_id", "score"]
    want = _rows(bm25_topk(queries, postings, docs, k=10, boost_entities=boosts), cols)
    got = _rows(spark.read.parquet(os.path.join(wd, "retrievals2")), cols)
    assert want and len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:3] == w[:3]
        assert abs(g[3] - w[3]) <= 1e-9


def test_default_stages_build_no_index(spark, tmp_path):
    wd = str(tmp_path / "wd")
    pipe = _pipe(spark, _tables(spark), wd, PipelineConfig(workdir=wd).stages)
    pipe.run()
    for t in INDEX_TABLES:
        assert t not in pipe.ran
        assert not os.path.exists(os.path.join(wd, t))


def test_index_reused_only_with_same_analyzer_config(spark, tmp_path):
    """A committed index is read on resume when its lineage extras match
    the config, and rebuilt when the analyzer config changed."""
    from kgner.operators.kbbuild import kb_index

    wd = str(tmp_path / "wd")
    t = _tables(spark, zh_kb_page=True)
    stages = ["extracted", "sentences", "kb_sentences", "retrievals"]
    first = _pipe(spark, t, wd, stages, per_lang_analyzer=False)
    first.run()
    assert first.lineage.read("postings")["extras"]["per_lang_analyzer"] is False

    # same config: the committed index is a resume skip, not a rebuild
    shutil.rmtree(os.path.join(wd, "retrievals"))
    same = _pipe(spark, t, wd, stages, per_lang_analyzer=False)
    same.run()
    assert same.ran == ["retrievals"]
    assert [s for s in same.skipped if s in INDEX_TABLES] == list(INDEX_TABLES)

    # different analyzer: the stale index is rebuilt before round 1 reads it
    shutil.rmtree(os.path.join(wd, "retrievals"))
    changed = _pipe(spark, t, wd, stages, per_lang_analyzer=True)
    changed.run()
    assert changed.ran == [*INDEX_TABLES, "retrievals"]
    kb_sents = spark.read.parquet(os.path.join(wd, "kb_sentences"))
    cols = ["term", "doc_id", "lang", "tf"]
    fresh = _rows(kb_index(kb_sents, per_lang_analyzer=True)[0], cols)
    stale = _rows(kb_index(kb_sents, per_lang_analyzer=False)[0], cols)
    assert fresh != stale  # the zh page makes the two analyzers differ
    assert _rows(spark.read.parquet(os.path.join(wd, "postings")), cols) == fresh
    assert changed.lineage.read("docs")["extras"]["per_lang_analyzer"] is True
