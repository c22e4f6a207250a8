"""Regression tests for the round-1 code-review findings."""

from kgner.spanops import majority_vote
from kgner.textops import extract_text


def test_vote_primary_over_length():
    """Reference semantics (two stable sorts): votes desc PRIMARY. A longer
    low-vote span must lose to an overlapping shorter high-vote span."""
    votes = {(0, 3, "X"): 3, (0, 1, "Y"): 5}
    assert majority_vote(votes, n_models=5) == [(0, 1, "Y")]


def test_extract_text_no_double_unescape():
    assert extract_text(b"<p>a &amp;lt; b</p>") == "a &lt; b"
    assert extract_text(b"<p>a &lt; b &amp; c</p>") == "a < b & c"


def test_extract_text_udf_null_html(spark):
    from pyspark.sql import functions as F

    from kgner.functions.text import extract_text_udf

    df = spark.createDataFrame(
        [("u1", None), ("u2", b"<p>ok</p>")], "url string, html binary"
    )
    got = {
        r["url"]: r["t"]
        for r in df.select("url", extract_text_udf(F.col("html")).alias("t")).collect()
    }
    assert got == {"u1": "", "u2": "ok"}


def test_dedup_keep_min_numeric(spark):
    from kgner.operators.dedup import dedup_keep_min

    docs = spark.createDataFrame(
        [(9, "x"), (10, "x"), (123, "y")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(9, 10)], "doc_a long, doc_b long")
    kept = sorted(r["doc_id"] for r in dedup_keep_min(docs, pairs).collect())
    assert kept == [9, 123]  # numeric min survives, not lexicographic '10'


def test_dedup_keep_min_negative_ids(spark):
    """xxhash64-derived ids are negative ~half the time; the signed-64 range
    must dedup correctly (numeric min survives)."""
    from kgner.operators.dedup import dedup_keep_min

    lo = -(1 << 62)
    docs = spark.createDataFrame(
        [(-5, "x"), (7, "x"), (lo, "y"), (lo + 1, "y"), (3, "z")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(-5, 7), (lo, lo + 1)], "doc_a long, doc_b long"
    )
    kept = sorted(r["doc_id"] for r in dedup_keep_min(docs, pairs).collect())
    assert kept == [lo, -5, 3]


def test_canonical_case_collision_deterministic(spark):
    from kgner.operators.canonicalize import canonical_map

    kb = spark.createDataFrame([("Apple",), ("APPLE",)], "title string")
    edges = spark.createDataFrame(
        [("Apple", "Apple"), ("APPLE", "APPLE")], "src string, dst string"
    )
    got = {
        r["alias_norm"]: r["canonical_id"]
        for r in canonical_map(edges, kb).collect()
    }
    assert got == {"apple": "APPLE"}  # min(canonical_id) wins


def test_kb_sentences_dedup_keeps_min_pid(spark):
    from kgner.operators.kbbuild import kb_sentences

    kb = spark.createDataFrame(
        [
            (
                "T",
                [
                    {"text": "same para here.", "anchors": []},
                    {"text": "other para here.", "anchors": []},
                    {"text": "same para here.", "anchors": []},
                ],
                "en",
            )
        ],
        "title string, paragraphs array<struct<text:string, "
        "anchors:array<struct<start:int,end:int,mention:string,target_title:string>>>>, "
        "lang string",
    )
    rows = kb_sentences(kb).select("paragraph", "p_id").distinct().collect()
    got = {r["paragraph"]: r["p_id"] for r in rows}
    assert got["same para here."] == 0  # min p_id kept
    assert got["other para here."] == 1


def test_cosine_near_dup_multiband_recall(spark):
    import numpy as np

    from kgner.operators.similarity import cosine_near_dup_pairs

    rng = np.random.RandomState(11)
    rows = []
    base_pairs = []
    for i in range(20):
        v = rng.randn(16)
        v = v / np.linalg.norm(v)
        rows.append((2 * i, [float(x) for x in v]))
        w = v + 0.05 * rng.randn(16)
        w = w / np.linalg.norm(w)
        if float(v @ w) >= 0.97:
            base_pairs.append((2 * i, 2 * i + 1))
        rows.append((2 * i + 1, [float(x) for x in w]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["vec_a"], r["vec_b"])
        for r in cosine_near_dup_pairs(vecs, dim=16, threshold=0.97).collect()
    }
    recall = len(got & set(base_pairs)) / max(len(base_pairs), 1)
    assert recall >= 0.85, (recall, len(base_pairs))


def test_ngram_jaccard_sizes_on_filtered_space(spark):
    """Boilerplate shingles shared by > max_shingle_df docs must not dilute
    Jaccard: identical docs stay jaccard=1.0 in the filtered space."""
    from kgner.operators.dedup import ngram_jaccard_pairs

    rows = []
    # 30 docs all sharing identical boilerplate + 2 identical docs with a
    # unique tail
    for i in range(30):
        rows.append((i, "common boiler plate text here now " + f"u{i} v{i} w{i}"))
    rows.append((100, "common boiler plate text here now unique tail one two"))
    rows.append((101, "common boiler plate text here now unique tail one two"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.9, max_shingle_df=10).collect()
    }
    assert pairs.get((100, 101)) == 1.0