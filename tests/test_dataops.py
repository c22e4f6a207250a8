"""Tests for training-data operators: dedup, similarity, text analysis,
multimodal plumbing, context assembly, CRF inference."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup of 0
        (3, "completely different text about spark dataframes and shuffle partitions"),
        (4, "another unrelated document mentioning adaptive query execution and skew"),
        (5, "THE  QUICK brown fox jumps over the lazy dog near the river bank today"),  # case/ws dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    from kgner.operators.dedup import exact_dedup

    groups = exact_dedup(docs).collect()
    sizes = sorted(g["group_size"] for g in groups)
    assert sizes == [1, 1, 1, 3]  # 0,1,5 collapse
    big = [g for g in groups if g["group_size"] == 3][0]
    assert big["keep_id"] == 0


def test_ngram_jaccard_pairs(spark, docs):
    from kgner.operators.dedup import ngram_jaccard_pairs

    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
    assert (3, 4) not in pairs


def test_minhash_lsh_finds_near_dups(spark, docs):
    from kgner.operators.dedup import minhash_lsh_pairs

    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs, num_hashes=32, bands=8, threshold=0.5).collect()
    }
    assert (0, 1) in pairs
    assert (0, 5) in pairs
    assert (3, 4) not in pairs


def test_simhash_near_pairs(spark, docs):
    from kgner.operators.dedup import simhash_near_pairs

    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_pairs(docs, max_hamming=3).collect()
    }
    assert pairs[(0, 1)] == 0
    assert pairs[(0, 5)] == 0
    assert (3, 4) not in pairs


def test_dedup_keep_min(spark, docs):
    from kgner.operators.dedup import minhash_lsh_pairs, dedup_keep_min

    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    kept = sorted(
        r["doc_id"] for r in dedup_keep_min(docs, pairs).select("doc_id").collect()
    )
    assert 0 in kept and 1 not in kept and 5 not in kept
    assert 3 in kept and 4 in kept


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(3)
    base = rng.randn(8)
    rows = []
    for i in range(30):
        v = rng.randn(8)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    # 100,101: near-identical to base
    b = base / np.linalg.norm(base)
    rows.append((100, [float(x) for x in b]))
    rows.append((101, [float(x) for x in (b + 0.01 * rng.randn(8)) / np.linalg.norm(b + 0.0)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_force_topk(spark, vectors):
    from kgner.operators.similarity import brute_force_topk

    q = vectors.filter(F.col("vec_id") == 100).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    top = brute_force_topk(q, vectors, k=3).orderBy("rank").collect()
    assert top[0]["vec_id"] == 100 and abs(top[0]["cosine"] - 1.0) < 1e-9
    assert top[1]["vec_id"] == 101 and top[1]["cosine"] > 0.95


def test_lsh_topk_recall_of_top1(spark, vectors):
    from kgner.operators.similarity import lsh_topk

    q = vectors.filter(F.col("vec_id") == 100).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    top = lsh_topk(q, vectors, dim=8, k=3, planes=4).orderBy("rank").collect()
    assert top and top[0]["vec_id"] == 100  # identical vector shares every bucket


def test_cosine_near_dup_pairs(spark, vectors):
    from kgner.operators.similarity import cosine_near_dup_pairs

    pairs = {
        (r["vec_a"], r["vec_b"])
        for r in cosine_near_dup_pairs(vectors, dim=8, threshold=0.95, planes=4).collect()
    }
    assert (100, 101) in pairs


def test_lang_id_and_quality(spark):
    from kgner.operators.textquality import lang_id_features, quality_features, token_counts

    rows = [
        (0, "the cat sat on the mat and it was the best day for a walk in the park"),
        (1, "这 是 一个 中文 句子 非常 好"),
        (2, "यह एक हिंदी वाक्य है"),
        (3, "xyzzy plugh"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    lid = {r["doc_id"]: r["lang_guess"] for r in lang_id_features(df).collect()}
    assert lid[0] == "en" and lid[1] == "zh" and lid[2] == "hi" and lid[3] == "und"
    q = {r["doc_id"]: r for r in quality_features(df).collect()}
    assert q[0]["quality_score"] >= 0.75
    tc = {r["doc_id"]: r for r in token_counts(df).collect()}
    assert tc[0]["ws_tokens"] == len(rows[0][1].split())
    assert tc[0]["bpe_tokens"] >= tc[0]["ws_tokens"]



def _py_simhash(text: str) -> int:
    """Pure-Python simhash over the operator's tokens (space-only trim,
    lowercase, split on whitespace runs): bit j set iff strictly more than
    half the token hashes have it."""
    import re

    from kgner.textops import stable_hash64

    hs = [stable_hash64(t) % (1 << 64) for t in re.split(r"\s+", text.strip(" ").lower())]
    v = sum(1 << j for j in range(64) if 2 * sum(h >> j & 1 for h in hs) > len(hs))
    return v - (1 << 64) if v >= 1 << 63 else v


def test_simhash_values_match_majority_vote(spark):
    from kgner.functions.hashing import stable_hash64_col
    from kgner.operators.dedup import simhash
    from kgner.textops import stable_hash64

    high = next(f"t{i}" for i in range(100) if stable_hash64(f"t{i}") < 0)
    a, b = "alpha", "beta"
    assert stable_hash64(a) != stable_hash64(b)
    rows = [
        (0, high),  # one token with bit 63 set: simhash is its hash
        (1, ""),  # empty text is one '' token
        (2, f"{a} {b}"),  # 1-1 ties on differing bits stay 0
        (3, f"{a} {b} {a} {b} {high} gamma  delta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["simhash"]
        for r in simhash(df, hash_fn=stable_hash64_col).collect()
    }
    assert got[0] == stable_hash64(high)
    assert got[2] == stable_hash64(a) & stable_hash64(b)
    assert got == {i: _py_simhash(t) for i, t in rows}

def test_fingerprint_rolling(spark):
    from kgner.operators.textquality import fingerprint

    rows = [(0, " ".join(f"w{i}" for i in range(200))), (1, "short doc")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in fingerprint(df, chunk=64).collect()}
    assert len(got[0]["chunk_fps"]) == 4  # ceil(200/64)
    assert len(got[1]["chunk_fps"]) == 1
    assert got[0]["doc_fp"] != got[1]["doc_fp"]


def test_multimodal_features_and_byte_cap(spark):
    from kgner.operators.multimodal import extract_media_features, frame_sample_plan

    rows = [
        (0, "image", b"\x89PNG" + b"x" * 100, "image/png", 10, 10, 0),
        (1, "image", b"\x89PNG" + b"y" * 100, "image/png", 10, 10, 0),
        (2, "video", b"\x00" * 50, "video/mp4", 0, 0, 3500),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, mime string, "
        "width int, height int, duration_ms int",
    )
    feats = {r["media_id"]: r for r in extract_media_features(media, max_batch_bytes=64).collect()}
    assert len(feats) == 3
    assert len(feats[0]["feature"]) == 16
    assert feats[0]["feature"] != feats[1]["feature"]
    assert feats[0]["n_bytes"] == 104
    frames = frame_sample_plan(media, every_ms=1000).collect()
    assert sorted(r["frame_ts_ms"] for r in frames) == [0, 1000, 2000, 3000]


def test_multimodal_real_decode_raises():
    from kgner.operators.multimodal import _decode_image_real

    with pytest.raises(NotImplementedError):
        _decode_image_real(b"xx")


def test_context_assembly_budget(spark):
    from kgner.operators.context import assemble_context

    sents = spark.createDataFrame(
        [(1, "short sentence here")], "query_id int, sentence string"
    )
    # contexts: rank 1 fits, rank 2 fits, rank 3 would blow the budget
    ctxs = spark.createDataFrame(
        [
            (1, 1, "ctx one " * 3),
            (1, 2, "ctx two " * 3),
            (1, 3, "x " * 600),
        ],
        "query_id int, rank int, sentence string",
    )
    out = assemble_context(sents, ctxs, budget=40).collect()[0]
    assert len(out["contexts"]) == 2
    assert "<EOS>" in out["augmented"]
    assert out["used_subtokens"] <= 40
    # no contexts -> augmented == sentence
    out2 = assemble_context(
        spark.createDataFrame([(9, "lonely")], "query_id int, sentence string"),
        ctxs.filter(F.col("query_id") == 999),
        budget=40,
    ).collect()[0]
    assert out2["augmented"] == "lonely"


def test_crf_inference_plumbing(spark):
    from kgner.operators.inference import tag_with_crf, make_gazetteer_model
    import numpy as np

    tagset = ["O", "B-PER", "I-PER"]
    dim = 32
    weights, transitions = make_gazetteer_model(tagset, {}, dim)

    # craft emissions via a custom embed_fn: token 'zq' -> strong B-PER
    def embed(tokens):
        out = np.zeros((len(tokens), dim))
        for i, t in enumerate(tokens):
            out[i, 0] = 1.0 if t != "zq" else 0.0
            out[i, 1] = 5.0 if t == "zq" else 0.0
        return out

    w = np.zeros((dim, len(tagset)))
    w[0, 0] = 1.0  # plain token -> O
    w[1, 1] = 1.0  # zq -> B-PER
    sents = spark.createDataFrame(
        [("u", 0, ["a", "zq", "b"], 3), ("u", 1, ["zq", "zq"], 2)],
        "url string, sent_id int, tokens array<string>, subtoken_len int",
    )
    got = {
        r["sent_id"]: r["tags"]
        for r in tag_with_crf(sents, w, transitions, tagset, embed_fn=embed).collect()
    }
    assert got[0] == ["O", "B-PER", "O"]
    assert got[1] == ["B-PER", "B-PER"]
