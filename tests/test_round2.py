"""Round-2 regression tests: advisor-finding fixes (empty-token TF-IDF,
WARC resync, lazy package root, reference-exact context budget loop) and the
judge's scale-smell fixes (single-plan span_f1, constant-size LSH plans)."""

import subprocess
import sys

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# --- package root stays pure ------------------------------------------------

def test_package_root_import_does_not_pull_pyspark():
    code = (
        "import sys; import kgner; import kgner.textops; "
        "assert 'pyspark' not in sys.modules, 'eager pyspark import'; "
        "p = kgner.Pipeline; "  # lazy attribute triggers the import
        "assert 'pyspark' in sys.modules"
    )
    subprocess.run([sys.executable, "-c", code], check=True, cwd="/root/repo")


# --- TF-IDF empty/whitespace docs -------------------------------------------

def test_tfidf_empty_and_whitespace_get_zero_vector(spark):
    from kgner.operators.vectorize import tfidf_vectors

    docs = spark.createDataFrame(
        [(0, "spark shuffles data"), (1, ""), (2, "   "), (3, None)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: list(r.vector) for r in tfidf_vectors(docs, dim=8).collect()}
    assert rows[1] == [0.0] * 8
    assert rows[2] == [0.0] * 8
    assert rows[3] == [0.0] * 8
    assert any(v != 0.0 for v in rows[0])


# --- WARC resync on record boundary ------------------------------------------

def test_warc_bad_length_no_phantom_records():
    """A record with a malformed Content-Length whose PAYLOAD contains the
    literal bytes 'WARC/1.0' must not produce phantom records; the parser
    resyncs on the CRLFCRLF+magic record boundary and picks up the next
    real record."""
    from kgner.sources.warc import parse_warc_bytes

    bad = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Target-URI: http://bad.example/\r\n"
        b"Content-Length: oops\r\n"
        b"\r\n"
        b"HTTP/1.1 200 OK\r\n\r\npage about the WARC/1.0 format and "
        b"WARC/1.0 parsers"
    )
    good_http = b"HTTP/1.1 200 OK\r\n\r\n<html>real</html>"
    good = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Target-URI: http://good.example/\r\n"
        b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
        b"Content-Length: " + str(len(good_http)).encode() + b"\r\n"
        b"\r\n" + good_http
    )
    recs = parse_warc_bytes(bad + b"\r\n\r\n" + good)
    assert [r[0] for r in recs] == ["http://good.example/"]
    assert recs[0][2] == b"<html>real</html>"

    # malformed record at the tail: parser terminates cleanly, nothing emitted
    assert parse_warc_bytes(bad) == []


# --- reference-exact context budget loop --------------------------------------

def _assemble(spark, sentence, ctxs, budget, **kw):
    from kgner.operators.context import assemble_context

    sents = spark.createDataFrame([(1, sentence)], "query_id long, sentence string")
    rets = spark.createDataFrame(
        [(1, i + 1, c) for i, c in enumerate(ctxs)],
        "query_id long, rank int, sentence string",
    )
    row = assemble_context(sents, rets, budget=budget, **kw).collect()[0]
    return row.contexts, row.used_subtokens


def test_context_early_stop_below_headroom(spark):
    # sentence uses 12 of 20; headroom 8 < 10 -> loop breaks BEFORE any
    # context, even one that would fit (kb/context_process.py:402)
    sentence = " ".join(["w"] * 12)
    kept, used = _assemble(spark, sentence, ["a b c"], budget=20)
    assert kept == []
    assert used == 12


def test_context_skip_and_continue(spark):
    # over-budget context is SKIPPED, a later shorter one still accepted
    sentence = " ".join(["w"] * 5)
    big = " ".join(["x"] * 30)
    small = " ".join(["y"] * 10)
    kept, used = _assemble(spark, sentence, [big, small], budget=30)
    assert kept == [small]
    assert used == 15


def test_context_eos_charge_not_accumulated(spark):
    # fit check charges +1 for EOS but `used` grows by context length only
    # (kb/context_process.py:434-436); with the old cumulative +1 this
    # would report 13
    sentence = " ".join(["w"] * 5)
    ctx = " ".join(["x"] * 7)
    kept, used = _assemble(spark, sentence, [ctx, ctx], budget=20)
    assert len(kept) == 1  # after first: used=12, headroom 8 < 10 -> stop
    assert used == 12


def test_context_add_eos_false_relaxes_fit(spark):
    # used=5, ctx=15: 5+15+1 > 20 rejects with EOS, fits without
    sentence = " ".join(["w"] * 5)
    ctx = " ".join(["x"] * 15)
    kept_eos, _ = _assemble(spark, sentence, [ctx], budget=20)
    kept_no, used_no = _assemble(spark, sentence, [ctx], budget=20, add_eos=False)
    assert kept_eos == []
    assert kept_no == [ctx]
    assert used_no == 20


# --- span_f1 is one plan -------------------------------------------------------

def test_span_f1_single_plan_no_driver_actions(spark):
    from kgner.queries import QUERIES

    df = QUERIES["span_f1"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the span-decode UDF feeds both join sides from ONE checkpointed RDD:
    # no Python eval nodes re-derive it inside this plan
    assert "EvalPython" not in plan
    # full-outer span-set compare + one rollup aggregate, all in-plan
    assert "FullOuter" in plan
    assert "HashAggregate" in plan
    rows = {r["label"]: r for r in df.collect()}
    # r5 merged shape: per-label rows + the '<ALL>' micro line over the SAME
    # predictions (conlleval's two sections); micro = sum of label rows
    micro = rows.pop("<ALL>")
    assert micro.tp + micro.fn > 0
    assert micro.fp > 0  # spurious first-token preds exist by construction
    assert micro.tp == sum(r.tp for r in rows.values())
    assert micro.fp == sum(r.fp for r in rows.values())
    assert micro.fn == sum(r.fn for r in rows.values())
    p = micro.tp / max(micro.tp + micro.fp, 1)
    assert abs(micro.precision - round(p, 6)) < 1e-9


# --- LSH plan size independent of dim ------------------------------------------

def _lsh_plan_len(spark, dim):
    from kgner.operators.similarity import lsh_bucket

    df = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)), lambda i: i.cast("double")
        ).alias("embedding"),
    )
    out = lsh_bucket(df, dim=dim, planes=6)
    return len(out._jdf.queryExecution().executedPlan().toString())


def test_lsh_plan_size_independent_of_dim(spark):
    small = _lsh_plan_len(spark, 8)
    big = _lsh_plan_len(spark, 512)
    assert big < small * 1.5, (small, big)


def test_lsh_topk_recall_at_dim_256(spark):
    """Identical vectors land in identical buckets regardless of dim, so an
    exact-duplicate probe ALWAYS recalls its duplicate at rank 1 — checked at
    a realistic embedding width (the old expression-per-dim shape stalled
    Catalyst here)."""
    import numpy as np

    from kgner.operators.similarity import lsh_topk

    rng = np.random.RandomState(3)
    base = rng.randn(40, 256)
    vecs = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(base)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(100 + i, base[i].tolist()) for i in range(5)],
        "query_id long, embedding array<double>",
    )
    top = lsh_topk(queries, vecs, dim=256, k=3, planes=6)
    got = {r.query_id: r.vec_id for r in top.filter(F.col("rank") == 1).collect()}
    assert got == {100 + i: i for i in range(5)}


# --- retrieval highlight/hits ---------------------------------------------------

def test_bm25_matched_terms_and_highlight(spark):
    """ES highlight-hits parity (kb/generate_data.py:44-48,62-68): matched
    query terms surface per result and the sentence carries <hit> markup;
    a term equal to the tag word 'hit' must not corrupt inserted tags."""
    from kgner.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, 4, "big hit Spark", "t1", "u1", "big hit Spark job"),
            (2, 3, "other text", "t2", "u2", "other text here"),
        ],
        "doc_id long, len long, sentence string, title string, url string, _full string",
    ).drop("_full")
    postings = spark.createDataFrame(
        [("big", 1, 1), ("hit", 1, 1), ("spark", 1, 1),
         ("other", 2, 1), ("text", 2, 1)],
        "term string, doc_id long, tf long",
    )
    queries = spark.createDataFrame(
        [(7, ["hit", "spark", "absent"])], "query_id long, tokens array<string>"
    )
    row = bm25_topk(queries, postings, docs, k=5).collect()
    assert len(row) == 1
    r = row[0]
    assert r.matched_terms == ["hit", "spark"]
    assert r.highlight == "big <hit>hit</hit> <hit>Spark</hit>"


# --- ITA multimodal context routing --------------------------------------------

def test_media_captions_and_ita_routing(spark):
    from kgner.operators.multimodal import ita_contexts, media_captions

    media = spark.createDataFrame(
        [
            (1, b"Hello Spark  WORLD of data streams", 320, 240),
            (2, None, 160, 120),  # null payload
        ],
        "media_id long, payload binary, width int, height int",
    )
    caps = {r.media_id: r for r in media_captions(media).collect()}
    assert caps[1].caption.startswith("image 320x240 of 34 bytes md5 ")
    assert caps[1].ocr_text == "hello spark world of data"  # 5 tokens, lowered
    assert caps[2].caption.startswith("image 160x120 of 0 bytes md5 d41d8cd9")
    assert caps[2].ocr_text == ""

    links = spark.createDataFrame(
        [(10, 1, 1), (10, 2, 2)], "query_id long, media_id long, rank int"
    )
    ctxs = ita_contexts(links, media_captions(media)).collect()
    by_rank = {r.rank: r.sentence for r in ctxs}
    assert set(by_rank) == {1, 2, 3, 4}
    assert by_rank[1].startswith("image 320x240")   # caption of rank-1 image
    assert by_rank[2] == "hello spark world of data"  # its OCR
    assert by_rank[3].startswith("image 160x120")
    assert by_rank[4] == ""


# --- byte-aware CC threshold ------------------------------------------------

def test_cc_wide_strings_fall_through_to_distributed(spark, monkeypatch):
    """An edge list whose BYTES exceed the budget must take the distributed
    path even when its row count is far under local_threshold."""
    import kgner.operators.canonicalize as canon

    calls = {"distributed": 0}
    orig = canon._cc_distributed

    def spy(edges, max_iters=20):
        calls["distributed"] += 1
        return orig(edges, max_iters)

    monkeypatch.setattr(canon, "_cc_distributed", spy)
    wide = "x" * 2000
    # 50 stars x 30 leaves = 1500 edges, diameter 2
    rows = [
        (f"{wide}hub{h:02d}", f"{wide}hub{h:02d}leaf{l:02d}")
        for h in range(50)
        for l in range(30)
    ]
    edges = spark.createDataFrame(rows, "src string, dst string")
    # ~6 MB of characters, budget 1 MB -> distributed despite only 1500 rows
    comp = canon.connected_components(
        edges, max_iters=10, local_threshold_bytes=1 * 1024 * 1024
    )
    assert calls["distributed"] == 1
    got = comp.agg(F.countDistinct("component")).collect()[0][0]
    assert got == 50

    # same graph under a roomy budget stays local and agrees
    calls["distributed"] = 0
    local = canon.connected_components(edges)
    assert calls["distributed"] == 0
    assert local.agg(F.countDistinct("component")).collect()[0][0] == 50



def test_cc_null_endpoints_dropped_on_both_paths(spark):
    """A redirect with no target must neither crash the local union-find nor
    add a node on the distributed path: both give the same map."""
    import kgner.operators.canonicalize as canon

    edges = spark.createDataFrame(
        [("a", "b"), ("b", None), (None, "c"), ("c", "d"), (None, None)],
        "src string, dst string",
    )
    local = sorted(map(tuple, canon.connected_components(edges).collect()))
    dist = sorted(map(tuple, canon._cc_distributed(edges).collect()))
    assert local == dist == [("a", "a"), ("b", "a"), ("c", "c"), ("d", "c")]

def test_canonical_map_local_and_distributed_branches_agree(spark, monkeypatch):
    """canonical_map's driver-side branch and its Spark branch (forced by
    reporting the edge list as too large for the driver) give the same map,
    and both equal the oracle's build_canonical_map: a redirect chain, a
    cycle without and with a KB title, lower-case collisions across
    components (min canonical_id wins), non-ASCII lower-casing, and a
    redirect with a null target."""
    import kgner.operators.canonicalize as canon
    from kgner.operators.kbbuild import alias_edges
    from kgner.oracle.pipeline import build_canonical_map

    titles = ["Paris", "Rome", "Apple", "APPLE", "İstanbul", "Οδυσσέας"]
    redirects = [
        ("P1", "P2"), ("P2", "Paris"),  # chain to a title
        ("Xb", "Xa"), ("Xa", "Xb"),  # cycle, no title: smallest node
        ("Roma", "Rome"), ("Rome", "Roma"),  # cycle through a title
        ("apple inc", "Apple"), ("Apple Records", "APPLE"),  # lower collision
        ("ISTANBUL", "İstanbul"), ("ΟΔΥΣΣΈΑΣ", "Οδυσσέας"),
        ("Ghost", None),  # redirect with no target
    ]
    kb = spark.createDataFrame([(t,) for t in titles], "title string")
    red = spark.createDataFrame(redirects, "alias_title string, canonical_title string")
    edges = alias_edges(kb, red)

    calls = {"distributed": 0}
    orig = canon._cc_distributed

    def spy(edges, max_iters=20):
        calls["distributed"] += 1
        return orig(edges, max_iters)

    monkeypatch.setattr(canon, "_cc_distributed", spy)
    local = sorted(map(tuple, canon.canonical_map(edges, kb).collect()))
    assert calls["distributed"] == 0
    monkeypatch.setattr(canon, "_local_edges", lambda *a, **k: None)
    dist = sorted(map(tuple, canon.canonical_map(edges, kb).collect()))
    assert calls["distributed"] == 1

    oracle = build_canonical_map(
        [{"title": t} for t in titles],
        [{"alias_title": a, "canonical_title": c} for a, c in redirects],
    )
    assert local == dist == sorted(oracle.items())
    got = dict(local)
    assert got["p1"] == got["p2"] == "Paris"
    assert got["xa"] == got["xb"] == "Xa"
    assert got["roma"] == "Rome"
    assert got["apple"] == "APPLE" and got["apple inc"] == "Apple"
    assert got["istanbul"] == got["i\u0307stanbul"] == "İstanbul"
    assert "ghost" not in got


# --- IVF ANN --------------------------------------------------------------------

def test_ivf_topk_duplicate_probe_recall(spark):
    """An exact-duplicate probe shares its duplicate's cell by construction,
    so IVF always returns it at rank 1 (cosine 1.0); and every result must
    come from a probed cell (candidate set strictly smaller than the corpus)."""
    import numpy as np

    from kgner.operators.similarity import ivf_topk, sampled_centroids

    rng = np.random.RandomState(7)
    base = rng.randn(60, 16)
    vecs = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(base)],
        "vec_id long, embedding array<double>",
    )
    cents = sampled_centroids(vecs, 6)
    queries = spark.createDataFrame(
        [(100 + i, base[10 + i].tolist()) for i in range(4)],
        "query_id long, embedding array<double>",
    )
    top = ivf_topk(queries, vecs, cents, k=3, nprobe=2)
    rows = top.collect()
    got1 = {r.query_id: (r.vec_id, r.cosine) for r in rows if r.rank == 1}
    assert {q: v[0] for q, v in got1.items()} == {100 + i: 10 + i for i in range(4)}
    assert all(abs(v[1] - 1.0) < 1e-9 for v in got1.values())


# --- affine universal-hash family parity ----------------------------------------

def test_affine_perm_matches_python_model(spark):
    """Spark's split-multiply mod 2^61-1 (pure long ops) must equal plain
    Python big-int arithmetic for the same constants — the property the
    DuckDB oracle's HUGEINT formula relies on."""
    import hashlib

    from kgner.functions.hashing import (
        AFFINE_CONSTANTS,
        MERSENNE61,
        affine_perm,
        stable_base_p61,
    )

    toks = ["spark joins", "", "a", "données", "x" * 100, "123 456"]
    df = spark.createDataFrame([(t,) for t in toks], "tok string")
    cols = [stable_base_p61(F.col("tok")).alias("h")] + [
        affine_perm(stable_base_p61(F.col("tok")), i).alias(f"p{i}")
        for i in range(4)
    ]
    rows = {r.tok: r for r in df.select("tok", *cols).collect()}

    for t in toks:
        u = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
        h = u % MERSENNE61
        assert rows[t].h == h, t
        for i in range(4):
            a, b = AFFINE_CONSTANTS[i]
            assert rows[t][f"p{i}"] == (a * h + b) % MERSENNE61, (t, i)
