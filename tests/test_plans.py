"""Physical-plan regression guards: the scale properties we rely on must be
visible in the plan — filters pushed to the scan, dimensions broadcast, no
sort-merge joins in the retrieval path, no Python in JVM-only operators."""

import os
import re

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_column_pruning(spark):
    from kgner.queries import QUERIES

    plan = _plan(QUERIES["pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # projection pruned: html-free read schema, only the used columns
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:200]


def test_dimension_joins_broadcast(spark):
    from kgner.queries import QUERIES

    plan = _plan(QUERIES["revenue_by_region"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_bm25_no_sort_merge_join(spark):
    from kgner.queries import QUERIES

    plan = _plan(QUERIES["bm25_retrieval"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_bm25_lang_scoped_same_plan_shape(spark):
    """Per-language scoping only ADDS a join key: still no sort-merge join,
    still broadcast df/stats, no Python — the per-lang statistics joins
    (one row per language) must broadcast like the global ones."""
    from kgner.queries import QUERIES

    plan = _plan(QUERIES["bm25_retrieval_lang"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    assert "Python" not in plan


def test_jvm_only_operators_have_no_python(spark):
    from kgner.queries import QUERIES

    for name in ["quality", "lang_id", "token_counts", "sessionize", "cosine_topk"]:
        plan = _plan(QUERIES[name](spark, SF))
        assert "Python" not in plan, name


def test_mentions_stage_is_map_only(spark, tables):
    """detect_mentions must add no shuffle beyond its input."""
    from kgner.functions.text import extract_text_udf, with_sentences
    from kgner.operators.mentions import detect_mentions

    sents = with_sentences(
        tables["pages"].select(
            "url", "lang", extract_text_udf("html").alias("text")
        )
    )
    aliases = spark.createDataFrame(
        [("zq", "ZQ")], "alias_norm string, canonical_id string"
    )
    plan = _plan(detect_mentions(spark, sents, aliases))
    assert "Exchange" not in plan  # map-only: scan -> UDFs -> scan-out


def test_all_triples_single_dedup_over_union(spark, tables):
    """all_triples deduplicates once, over the union of its three parts: the
    optimized plan has one Aggregate above the Union and, below it, only the
    per-sentence collect_set of the co-occurrence part."""
    from kgner.operators.kbbuild import kb_sentences
    from kgner.operators.triples import all_triples

    mentions = spark.createDataFrame(
        [("u", 0, 0, 1, "A"), ("u", 0, 2, 3, "B")],
        "url string, sent_id int, start int, end int, entity_id string",
    )
    canon = spark.createDataFrame(
        [("a", "A"), ("b", "B")], "alias_norm string, canonical_id string"
    )
    df = all_triples(mentions, kb_sentences(tables["kb_pages"]), canon)
    lines = df._jdf.queryExecution().optimizedPlan().toString().splitlines()
    nodes = [re.sub(r"^[\s:+\-]*", "", ln) for ln in lines]
    unions = [i for i, n in enumerate(nodes) if n.startswith("Union")]
    assert len(unions) == 1, nodes
    aggs = [i for i, n in enumerate(nodes) if n.startswith("Aggregate")]
    above = [i for i in aggs if i < unions[0]]
    below = [nodes[i] for i in aggs if i > unions[0]]
    assert len(above) == 1, nodes
    assert len(below) == 1 and "collect_set" in below[0], below


def test_ivf_probe_join_broadcasts(spark):
    from kgner.queries import QUERIES

    plan = _plan(QUERIES["ivf_ann"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_strip_and_remove_x_are_jvm_only(spark):
    """strip_context_tags and remove_x_tokens are pure array expressions —
    no Python eval nodes, no exchange (map-only at any scale)."""
    from kgner.operators.ensemble import remove_x_tokens, strip_context_tags

    df = spark.createDataFrame(
        [(["a", "<EOS>", "b"], ["O", "O", "B-ENT"], ["O", "S-X", "S-X"])],
        "tokens array<string>, tags array<string>, gold_tags array<string>",
    )
    for out in (
        strip_context_tags(df, gold_col="gold_tags"),
        remove_x_tokens(df, gold_col="gold_tags", cols=("tokens", "tags")),
    ):
        plan = _plan(out)
        assert "Python" not in plan
        assert "Exchange" not in plan


def test_minhash_contract_is_jvm_only(spark):
    """The md5-seeded affine minhash family must stay whole-stage-codegen
    long arithmetic — no Python eval nodes anywhere in the contract query."""
    from kgner.queries import QUERIES

    plan = _plan(QUERIES["minhash_lsh"](spark, SF))
    assert "Python" not in plan


def test_retrieval_round2_reads_committed_index(spark, tmp_path):
    """Round 2 scans the committed postings/docs tables and never re-derives
    the index: no scan of kb_sentences, no explode over sentence text."""
    from kgner.fixtures import build_fixtures, to_spark
    from kgner.pipeline import Pipeline, PipelineConfig

    t = to_spark(spark, build_fixtures(n_entities=10, n_pages=10, giant_pages=0))
    wd = str(tmp_path / "wd")
    cfg = PipelineConfig(
        workdir=wd,
        stages=["extracted", "sentences", "kb_sentences", "canonical",
                "mentions", "retrievals", "retrievals2"],
    )
    pipe = Pipeline(spark, cfg, t["pages"], t["kb_pages"], t["redirects"])
    written = {}
    write = pipe._write

    def spy(name, df, *args, **kwargs):
        written[name] = df
        write(name, df, *args, **kwargs)

    pipe._write = spy
    pipe.run()
    # scan locations print in full only under a long metadata limit
    key = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, "10000")
    try:
        plan = _plan(written["retrievals2"])
    finally:
        spark.conf.set(key, old)
    scanned = {
        os.path.basename(p.rstrip("/"))
        for p in re.findall(r"InMemoryFileIndex\(\d+ paths\)\[file:([^\],]+)", plan)
    }
    assert "postings" in scanned and "docs" in scanned, scanned
    assert "kb_sentences" not in scanned, scanned
    assert not re.search(r"Generate explode\([^\n]*sentence", plan)


def _lambda_bodies(plan: str) -> list[str]:
    bodies = []
    for m in re.finditer(r"lambdafunction\(", plan):
        i, depth = m.end(), 1
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        bodies.append(plan[m.end() : i - 1])
    return bodies


def test_tokenize_once_outside_lambdas(spark):
    """Higher-order-function lambdas run interpreted: a split captured in
    one re-tokenizes the whole text per element (O(tokens^2) per doc). The
    shingle and chunk expressions must reference a projected token column."""
    from kgner.operators.dedup import (
        minhash_signatures,
        ngram_jaccard_pairs,
        shingle_arrays,
    )
    from kgner.operators.textquality import fingerprint

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string"
    )
    for name, df in [
        ("shingle_arrays", shingle_arrays(docs)),
        ("minhash_signatures", minhash_signatures(docs)),
        ("ngram_jaccard_pairs", ngram_jaccard_pairs(docs)),
        ("fingerprint", fingerprint(docs)),
    ]:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert not any("split(" in b for b in _lambda_bodies(plan)), name


def test_local_cc_result_stays_in_jvm(spark):
    """The driver-side union-find result must not be scanned through Python
    workers (a list-built DataFrame is a PythonRDD, restarted per scan)."""
    from kgner.operators.canonicalize import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    comp = connected_components(edges)
    lineage = comp._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage
    assert sorted(map(tuple, comp.collect())) == [
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"),
    ]


def test_shingle_df_long_document(spark):
    """A 3,000-token document yields exactly its distinct word 3-grams."""
    import random

    from kgner.operators.dedup import shingle_df
    from kgner.textops import shingles

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]  # ~70 repeated 3-grams expected
    toks = [rng.choice(vocab) for _ in range(3000)]
    docs = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    got = [r["shingle"] for r in shingle_df(docs, n=3).collect()]
    assert len(got) == len(set(got))
    assert sorted(got) == shingles(toks, 3)


def _kb_sents(spark):
    return spark.createDataFrame(
        [
            ("Paris", 0, 0, "Paris is the capital of France", "p", "u1", "en"),
            ("Paris Hilton", 0, 0, "the Paris the", "p", "u2", None),
        ],
        "title string, p_id int, s_id int, sentence string, paragraph string,"
        " url string, lang string",
    )


def _boosted_topk(spark):
    from kgner.operators.kbbuild import kb_index
    from kgner.operators.retrieval import bm25_topk

    postings, docs = kb_index(_kb_sents(spark))
    queries = spark.createDataFrame(
        [(1, ["paris", "capital"], "en")],
        "query_id long, tokens array<string>, lang string",
    )
    boosts = spark.createDataFrame([(1, "Paris")], "query_id long, entity string")
    return bm25_topk(queries, postings, docs, k=3, boost_entities=boosts, lang_col="lang")


def test_kb_index_postings_map_only(spark):
    """Each kb_sentences row is one doc_id, so the postings are counted
    inside the row: no shuffle and no aggregate in the executed plan."""
    from kgner.operators.kbbuild import kb_index

    postings, _ = kb_index(_kb_sents(spark))
    plan = _plan(postings)
    assert "Exchange" not in plan, plan
    assert "Aggregate" not in plan, plan


def test_bm25_title_postings_not_aggregated(spark):
    """The entity boost's title postings come from term_frequencies, not an
    aggregate keyed on (doc_id, [lang,] tlen, term)."""
    df = _boosted_topk(spark)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    keys = re.findall(r"Aggregate \[([^\]]*)\]", plan)
    assert keys, plan
    assert not any("tlen#" in k for k in keys), keys
    assert df.count() > 0


def test_postings_sort_once_outside_lambdas(spark):
    """The postings' sorted token array and tokenizer split are projected
    columns: a lambda that captured either would re-sort or re-split the
    array once per element."""
    from kgner.operators.kbbuild import kb_index
    from kgner.queries import QUERIES

    for name, df in [
        ("kb_index", kb_index(_kb_sents(spark))[0]),
        ("bm25_topk", _boosted_topk(spark)),
        ("bm25_entity_boost", QUERIES["bm25_entity_boost"](spark, SF)),
    ]:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        bodies = _lambda_bodies(plan)
        assert any("element_at" in b for b in bodies), name
        for b in bodies:
            assert not re.search(r"sort_array\(|array_sort\(|split\(", b), (name, b)
