"""KB build stage: kb_pages -> kb_sentences, postings/docs (the "ES index"
as data), and the alias table.

Reference analogue (/root/reference):
- paragraph dedup            kb/parse_text.py:39-52  -> dropDuplicates
- anchor/redirect handling   kb/parse_text.py:53-71  -> explode + clamp filter
- s_id/p_id numbering        kb/parse_text.py:45,79-86 -> posexplode (local,
  order-preserving, shuffle-free — deterministic W-4 without a window)
- ES index build             kb/build_kb.py:17-86    -> postings/docs tables

Scale notes: postings are map-only. Each kb_sentences row is exactly one
doc_id, so term_frequencies counts every term inside its row (sort the
token array, measure its runs of equal tokens) — the count ES makes inside
the document it indexes — and the index stage writes no shuffle at any KB
size. At 100 TB the postings table would be written bucketed by `term` so
the retrieval join (J-1) is shuffle-free on the KB side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgner.functions.text import split_sentences_udf, tokens_col


def term_frequencies(
    df: DataFrame,
    tokens: Column,
    keys: list[str],
    tf: str = "tf",
) -> DataFrame:
    """-> (*keys, term, tf int): one row per distinct token of each row's
    `tokens` array, with its count in that array. Map-only and JVM-only.

    The count is per ROW, not per key: a key whose tokens are spread over
    several rows gets one output row per input row and token. Callers pass
    rows that are one document each (the row key is the document id), which
    is what makes this the document's term frequency.

    The array is sorted once, as a projected column; the 1-based starts of
    its runs of equal tokens (null-safe compare, so null tokens count as one
    term like any other) are projected next; each start zipped with the next
    start (or size + 1) gives a run's token and length, and `inline` turns
    the runs into rows. An empty or null array gives no rows. Higher-order
    function lambdas run interpreted, so they read only the projected
    columns: a lambda that captured the sort would re-sort the array once
    per element.
    """
    srt, starts = "__tf_sorted", "__tf_starts"
    n = F.size(srt)
    # sort_array orders natively; array_sort would run its comparator
    # lambda interpreted for every comparison
    sorted_ = df.select(*keys, F.sort_array(tokens).alias(srt))
    runs = sorted_.select(
        *keys,
        srt,
        F.when(
            n > 0,
            F.filter(
                F.sequence(F.lit(1), n),
                # greatest(): element_at(_, 0) raises even where i = 1 wins
                lambda i: (i == 1)
                | ~F.element_at(srt, i).eqNullSafe(
                    F.element_at(srt, F.greatest(i - 1, F.lit(1)))
                ),
            ),
        ).alias(starts),
    )
    ends = F.concat(F.slice(starts, 2, F.size(starts)), F.array(n + 1))
    return runs.select(
        *keys,
        F.inline(
            F.zip_with(
                starts,
                ends,
                lambda a, b: F.struct(
                    F.element_at(srt, a).alias("term"), (b - a).alias(tf)
                ),
            )
        ),
    )


def kb_sentences(kb_pages: DataFrame) -> DataFrame:
    """kb_pages -> (title, p_id, s_id, sentence, paragraph, url, anchors).

    Mirrors the JSONL record of kb/parse_text.py:81. Duplicate paragraphs are
    dropped per (title, paragraph text) BEFORE sentence split (P-2), and
    out-of-range anchors are clamped away (parse_text.py:64-68 semantics).
    """
    from pyspark.sql.window import Window

    paras = kb_pages.select(
        "title",
        "lang",
        F.posexplode("paragraphs").alias("p_id", "para"),
    ).select(
        "title",
        "lang",
        "p_id",
        F.col("para.text").alias("paragraph"),
        F.filter(
            "para.anchors",
            lambda a: (a["start"] >= 0)
            & (a["start"] < F.length(F.col("para.text"))),
        ).alias("anchors"),
    )
    # dedup keeps the MIN p_id occurrence (dropDuplicates keeps an arbitrary
    # row, which would make doc_id = xxhash64(title, p_id, s_id) partition-
    # order dependent and break the deterministic retrieval tiebreak)
    w = Window.partitionBy("title", "paragraph").orderBy(F.col("p_id").asc())
    paras = (
        paras.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
    return paras.select(
        "title",
        "lang",
        "p_id",
        "paragraph",
        "anchors",
        F.posexplode(split_sentences_udf(F.col("paragraph"), F.col("lang"))).alias(
            "s_id", "s"
        ),
    ).select(
        "title",
        "p_id",
        "s_id",
        F.col("s.sentence").alias("sentence"),
        "paragraph",
        F.concat(
            F.lit("https://kb.example.org/wiki/"),
            F.regexp_replace("title", " ", "_"),
        ).alias("url"),
        "anchors",
        "lang",
    )


def kb_index(
    kb_sents: DataFrame,
    per_lang_analyzer: bool = False,
    zh_lexicon=None,
    zh_dict_mode: str = "smart",
) -> tuple[DataFrame, DataFrame]:
    """kb_sentences -> (postings(term, doc_id, lang, tf), docs(doc_id,
    title, url, sentence, paragraph, lang, len)).

    doc_id = dense per-sentence id derived from xxhash64(title,p_id,s_id) —
    deterministic, no global ordering pass (at 10^12 docs a row_number over
    everything is a non-starter). `paragraph` rides along so retrieval rows
    can carry the reference's paragraph field
    (kb/generate_data.py:65: hit tuple includes _source.paragraph).

    Postings are map-only: (title, p_id, s_id) is the row key of
    kb_sentences, so each row is exactly one doc_id and term_frequencies
    counts each term inside its own row — no (term, doc_id) groupBy, no
    shuffle. A kb_sentences input with two rows of one (title, p_id, s_id)
    would give that doc_id two postings rows per shared term.

    per_lang_analyzer=True mirrors the reference's per-language index
    ANALYZERS, not just its per-language routing: zh/ja/ko docs are
    tokenized with the CJK analyzer (han chars char-level — the
    spliteKeyWord semantics standing in for ik_max_word,
    kb/build_kb.py:17-22) while other languages keep whitespace tokens.
    Query tokens must be produced with the matching analyzer
    (tokens_col_cjk / split_keyword_cjk for CJK-language queries) — in ES
    the index analyzer does this server-side; here the token stream IS the
    contract. Map-only branch on lang: no extra scan, no shuffle change.

    zh_lexicon (with per_lang_analyzer=True) upgrades the zh analyzer from
    char-level to DICTIONARY segmentation: zh docs' han runs are
    forward-maximum-matched against the lexicon (the reference gives ONLY zh
    the ik analyzer, kb/build_kb.py:17-22, so ja/ko stay char-level). The
    query side must use the SAME lexicon (PipelineConfig.zh_lexicon plumbs
    both). zh_dict_mode picks the ik flavor: "smart" = one FMM segmentation
    per run (ik_smart, tokens_col_cjk_dict — also the right QUERY-side
    analyzer); "max_word" = every word occurrence + every char,
    multi-granularity overlapping output (ik_max_word,
    tokens_col_cjk_dict_max — the reference indexes with ik_max_word and
    queries with ik_smart, the standard ES pairing).
    """
    if zh_dict_mode not in ("smart", "max_word"):
        raise ValueError(f"zh_dict_mode must be smart|max_word, got {zh_dict_mode}")
    if per_lang_analyzer:
        from kgner.functions.text import (
            CJK_ANALYZER_LANGS,
            tokens_col_cjk,
            tokens_col_cjk_dict,
            tokens_col_cjk_dict_max,
        )

        dict_tok = (
            tokens_col_cjk_dict_max if zh_dict_mode == "max_word"
            else tokens_col_cjk_dict
        )

        def tok(col):
            cjk = F.when(
                F.col("lang").isin(*CJK_ANALYZER_LANGS), tokens_col_cjk(col)
            ).otherwise(tokens_col(col))
            if zh_lexicon:
                # NULL-mask the non-zh rows INTO the analyzer: with a large
                # lexicon dict_tok is an Arrow UDF, and Catalyst extracts
                # PythonUDFs out of the when-branch into an eval node run
                # for EVERY row — masking makes the 95%-non-zh payload null
                # (trivial Arrow bytes + instant Python return) instead of
                # shipping all sentences through Python for a discarded
                # result. JVM-path behavior is unchanged (NULL in -> NULL
                # out, branch unused).
                masked = F.when(F.col("lang") == "zh", col)
                return F.when(
                    F.col("lang") == "zh", dict_tok(masked, zh_lexicon)
                ).otherwise(cjk)
            return cjk

    else:
        tok = tokens_col
    # NULL lang would silently drop out of every lang-keyed equi-join
    # (scoped retrieval would make such docs unreachable) — route it to the
    # shared UND_LANG sentinel index instead, the analogue of an
    # unknown-language ES index. The query side coalesces to the same
    # constant (pipeline._retrieval_inputs).
    from kgner.functions.text import UND_LANG

    lang = F.coalesce(F.col("lang"), F.lit(UND_LANG)).alias("lang")
    docs = kb_sents.select(
        F.xxhash64("title", "p_id", "s_id").alias("doc_id"),
        "title",
        "url",
        "sentence",
        "paragraph",
        lang,
        F.size(tok(F.col("sentence"))).alias("len"),
    )
    # `lang` rides on BOTH tables so bm25_topk(lang_col="lang") can scope the
    # retrieval to the query's language — the DataFrame analogue of the
    # reference's one-ES-index-per-language layout ({lang}wiki_v1,
    # kb/build_kb.py:17-22).
    postings = term_frequencies(
        kb_sents.select(
            F.xxhash64("title", "p_id", "s_id").alias("doc_id"),
            lang,
            tok(F.lower(F.col("sentence"))).alias("toks"),
        ),
        F.col("toks"),
        ["doc_id", "lang"],
    ).select("term", "doc_id", "lang", "tf")
    return postings, docs


def alias_edges(kb_pages: DataFrame, redirects: DataFrame) -> DataFrame:
    """Edge list (src, dst) of the alias graph: redirects + title self-loops.

    Input to canonicalize.connected_components; anchor mentions are linked at
    match time (they resolve through this same canonical map). Duplicate
    edges are kept: union-find and the distributed CC both tolerate them,
    and a dedup here would be a shuffle job of its own before the driver
    collects the edge list.
    """
    title_loops = kb_pages.select(
        F.col("title").alias("src"), F.col("title").alias("dst")
    )
    redir = redirects.select(
        F.col("alias_title").alias("src"), F.col("canonical_title").alias("dst")
    )
    return redir.unionByName(title_loops)
