"""Text-stage Spark functions.

Policy (BASELINE.json input_hint): vectorized pandas/Arrow UDFs only — never
row-at-a-time Python — and ONLY where a JVM built-in cannot express the
semantics. Tokenization, subtoken counting, normalization and key-building
stay JVM-side (whole-stage codegen); html extraction and sentence splitting
are Arrow-batched pandas UDFs over the pinned pure functions in
kgner.textops, preserving the byte-identical-per-url invariant.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.functions import pandas_udf

from kgner import textops

# Subtoken proxy regex, JVM (java.util.regex) compatible. Java's \s is
# ASCII-only, matching DuckDB's RE2 \s in the oracles; the Python mirror
# (kgner.textops._BPE_ISH_RE) pins the SAME ASCII whitespace set explicitly
# (Python's Unicode \s would diverge on U+3000 etc.), so all three engines
# count identically.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """html:binary -> extracted text (deterministic; north-rule invariant).

    Reference analogue: the wikipedia2vec/LMDB text extraction consumed by
    /root/reference/kb/parse_text.py:34-45 — here a pinned pure function.
    """
    return html.map(lambda h: textops.extract_text(h if h is not None else b""))


def make_extract_text_udf(max_chars: int | None):
    """Factory variant with the giant-page cap plumbed in (the oracle must be
    given the SAME max_chars for the byte-identity invariant to hold)."""
    if max_chars is None:
        return extract_text_udf

    @pandas_udf(StringType())
    def capped(html: pd.Series) -> pd.Series:
        return html.map(
            lambda h: textops.extract_text(
                h if h is not None else b"", max_chars=max_chars
            )
        )

    return capped


_SENT_TYPE = ArrayType(
    StructType(
        [
            StructField("offset", IntegerType()),
            StructField("sentence", StringType()),
        ]
    )
)


@pandas_udf(_SENT_TYPE)
def split_sentences_udf(text: pd.Series, lang: pd.Series) -> pd.Series:
    """(text, lang) -> array<struct<offset,sentence>> in document order.

    Mirrors /root/reference/kb/parse_text.py:17-32,74-79 (CJK terminator rule
    for zh). Offsets are the deterministic sent_id ordering key (FIXTURES.md).
    """
    return pd.Series(
        [
            [
                {"offset": off, "sentence": s}
                for off, s in textops.split_sentences_with_offsets(t or "", lg or "en")
            ]
            for t, lg in zip(text, lang)
        ]
    )


def tokens_col(sentence: Column) -> Column:
    """Whitespace tokenization, JVM-side (flair/data.py:411-428 semantics)."""
    return F.split(F.trim(sentence), r"\s+")


# languages routed to the CJK analyzer instead of the whitespace one.
# DELIBERATE DEVIATION from the reference: kb/build_kb.py:17-22 configures
# ik_max_word/ik_smart for zh ONLY (ja/ko fall through to ES "standard");
# we extend the char-level treatment to ja/ko because their han runs have
# the same no-whitespace problem and there is no standard-analyzer stand-in
# here. Set this to ("zh",) for strict reference routing parity.
CJK_ANALYZER_LANGS = ("zh", "ja", "ko")

# sentinel index for rows whose lang is NULL (lang-id failure): NULL never
# equi-joins, so scoped retrieval would silently unreach such rows. BOTH the
# KB side (kb_index) and the query side (pipeline._retrieval_inputs) must
# coalesce to THIS constant — they import it from here so they cannot drift.
UND_LANG = "und"


def tokens_col_cjk(sentence: Column) -> Column:
    """CJK analyzer, JVM-side: han chars become char-level units, other
    non-space runs whitespace tokens — the exact token stream of
    kgner.textops.split_keyword_cjk (spliteKeyWord,
    kb/context_process.py:105-140), which is the repo's stand-in for the
    reference's zh ES index analyzer (ik_max_word, kb/build_kb.py:17-22).
    Pure regexp_extract_all: no empty tokens, no Python.

    (?U) makes Java's \\s Unicode-aware to match Python's — without it,
    U+3000 ideographic space (ubiquitous in CJK text) counts as a token
    character on the JVM side and the two analyzers diverge."""
    return F.regexp_extract_all(sentence, F.lit(r"(?U)[一-鿿]|[^一-鿿\s]+"), 0)


def fmm_segment_col(s: Column, lexicon) -> Column:
    """Forward-maximum-match dictionary segmentation of a han run, fully
    JVM-side — the ik_max_word stand-in UPGRADE over char-level
    tokens_col_cjk (the reference's zh index analyzer, kb/build_kb.py:17-22,
    is dictionary-based; char-level was a first approximation).

    Classic FMM: at each position take the LONGEST lexicon word matching the
    text prefix, else emit one character and advance by one. Expressed as a
    single F.aggregate fold over character positions with state
    (next_position, tokens) — whole-stage-codegen'd, no Python workers. The
    lexicon is compiled into per-length literal IN-sets (Catalyst turns >10
    literals into an O(1) InSet hash probe); for lexica beyond ~100k entries
    switch to a broadcast-join formulation instead of literal sets.

    Mirrors kgner.textops.fmm_segment exactly (parity-tested)."""
    by_len: dict[int, list[str]] = {}
    for w in lexicon:
        if len(w) >= 2:
            by_len.setdefault(len(w), []).append(w)

    def step(acc, i):
        out = F.struct(
            (i + F.lit(1)).alias("nxt"),
            F.concat(acc["toks"], F.array(F.substr(s, i, F.lit(1)))).alias("toks"),
        )
        # ascending wrap order => longest length sits OUTERMOST in the
        # when-chain, i.e. is tested first (maximum match wins). A word
        # overrunning the string can't match: substr truncates, != word.
        for length in sorted(by_len):
            cand = F.substr(s, i, F.lit(length))
            out = F.when(
                cand.isin(*by_len[length]),
                F.struct(
                    (i + F.lit(length)).alias("nxt"),
                    F.concat(acc["toks"], F.array(cand)).alias("toks"),
                ),
            ).otherwise(out)
        # positions consumed by a previous multi-char match are skipped
        return F.when(i < acc["nxt"], acc).otherwise(out)

    init = F.struct(
        F.lit(1).cast("int").alias("nxt"),
        F.array().cast("array<string>").alias("toks"),
    )
    # sequence(1, 0) would step BACKWARDS — guard the empty string
    return F.when(F.length(s) < 1, F.array().cast("array<string>")).otherwise(
        F.aggregate(
            F.sequence(F.lit(1), F.length(s)), init, step, lambda a: a["toks"]
        )
    )


# above this lexicon size switch to the Arrow-batched UDF, which ships the
# lexicon to executors once in the closure. r6 measurement (20k-doc han
# corpus, same lexicon both paths, warm): the UDF scan is ~35% faster at
# EVERY size (0.56-0.68 s vs 0.88-1.05 s; both size-independent — the fold
# is interpreted per position, InSet probes are O(1)), and the fold's
# literal tree additionally costs seconds of driver-side analysis at 10k
# words (4-6 s observed cold). The JVM window is kept only for small
# lexica where plan purity (no Python workers) matters and absolute cost
# is negligible; real ik dictionaries (~300k words) always take the UDF.
FMM_JVM_LEXICON_MAX = 1_024
# the max_word JVM form is O(|lexicon|) REPLACE CALLS per han run (a very
# different cost model from the InSet probe above), so its JVM cutoff is
# far lower; above it the position-scan UDF is the right path
MAXWORD_JVM_LEXICON_MAX = 256


def _clean_lex(lexicon) -> list[str]:
    """Normalize ONCE up front (sorted, deduped, multi-char only) so one-shot
    iterables can't be silently half-consumed by a size check and then seen
    empty by the segmenter."""
    return sorted({w for w in lexicon if len(w) >= 2})


def tokens_col_cjk_dict(sentence: Column, lexicon) -> Column:
    """CJK analyzer with DICTIONARY segmentation for han runs: han runs are
    FMM-segmented against the lexicon, other non-space runs stay whitespace
    tokens — the ik_smart stand-in (kb/build_kb.py:17-22). With an empty
    lexicon this degenerates to char-level tokens_col_cjk output.

    Small lexica (<= FMM_JVM_LEXICON_MAX) run fully JVM-side
    (fmm_segment_col inside the segment transform); larger ones switch to
    the Arrow-batched UDF path (make_cjk_dict_tokens_udf) with identical
    semantics — parity-tested across the boundary."""
    lex = _clean_lex(lexicon)
    if len(lex) > FMM_JVM_LEXICON_MAX:
        return make_cjk_dict_tokens_udf(lex)(sentence)
    segs = F.regexp_extract_all(sentence, F.lit(r"(?U)[一-鿿]+|[^一-鿿\s]+"), 0)
    return F.flatten(
        F.transform(
            segs,
            lambda seg: F.when(
                seg.rlike("[一-鿿]"), fmm_segment_col(seg, lex)
            ).otherwise(F.array(seg)),
        )
    )


def tokens_col_cjk_dict_max(sentence: Column, lexicon) -> Column:
    """ik_max_word-SEMANTICS variant: emit EVERY lexicon word occurrence in
    each han run PLUS every han char — the multi-granularity, overlapping
    output ik_max_word produces for recall-oriented indexing — where
    tokens_col_cjk_dict emits ONE segmentation (FMM, ik_smart semantics).
    Linear token order is not meaningful for overlapping hits; runs emit
    chars-then-words (postings/df only consume the multiset). Word counts
    are NON-OVERLAPPING per word (left-to-right greedy — str.count /
    replace-arithmetic semantics; 哈哈 in 哈哈哈 counts once), identical on
    the JVM and UDF paths.

    The JVM form costs O(|lexicon|) full-run replace calls per han run, so
    its cutoff (MAXWORD_JVM_LEXICON_MAX) is far lower than the FMM fold's;
    above it the position-scan Arrow UDF (make_cjk_dict_max_tokens_udf,
    O(run_len * max_word_len) independent of lexicon size) takes over —
    the path an ik-scale 300k-word dictionary needs."""
    lex = _clean_lex(lexicon)
    if len(lex) > MAXWORD_JVM_LEXICON_MAX:
        return make_cjk_dict_max_tokens_udf(lex)(sentence)
    lex_arr = F.array(*[F.lit(w) for w in lex])
    segs = F.regexp_extract_all(sentence, F.lit(r"(?U)[一-鿿]+|[^一-鿿\s]+"), 0)

    def run_tokens(seg):
        chars = F.regexp_extract_all(seg, F.lit(r"[一-鿿]"), 0)
        words = F.flatten(
            F.transform(
                lex_arr,
                lambda w: F.array_repeat(
                    w,
                    (
                        (F.length(seg) - F.length(F.replace(seg, w)))
                        / F.length(w)
                    ).cast("int"),
                ),
            )
        )
        return F.concat(chars, words)

    return F.flatten(
        F.transform(
            segs,
            lambda seg: F.when(
                seg.rlike("[一-鿿]"), run_tokens(seg)
            ).otherwise(F.array(seg)),
        )
    )


# Python twins of the JVM analyzer regexes, shared by both UDF factories —
# keep in lockstep with the (?U) JVM patterns above (Python \s is already
# Unicode-aware, so no flag is needed here)
_RUN_RE_PY = None
_HAN_RE_PY = None


def _run_res():
    global _RUN_RE_PY, _HAN_RE_PY
    if _RUN_RE_PY is None:
        import re

        _RUN_RE_PY = re.compile(r"[一-鿿]+|[^一-鿿\s]+")
        _HAN_RE_PY = re.compile(r"[一-鿿]")
    return _RUN_RE_PY, _HAN_RE_PY


def _make_run_dispatch_udf(scan_fn):
    """Shared scaffolding for the large-lexicon analyzers: split a sentence
    into han / non-han runs, apply scan_fn to han runs, pass other runs
    through — one Arrow-batched UDF."""
    run_re, han_re = _run_res()

    @pandas_udf(ArrayType(StringType()))
    def seg_udf(s: pd.Series) -> pd.Series:
        def one(t):
            if t is None:
                return []
            out = []
            for run in run_re.findall(t):
                if han_re.match(run):
                    out.extend(scan_fn(run))
                else:
                    out.append(run)
            return out

        return s.map(one)

    return seg_udf


def make_cjk_dict_tokens_udf(lexicon):
    """Arrow-batched FMM (ik_smart) for LARGE lexica: the word set rides in
    the UDF closure (serialized once per executor) instead of being
    compiled into the plan as per-length literal InSets. Same token stream
    as the JVM fold (kgner.textops.fmm_segment semantics, parity-tested);
    use only above FMM_JVM_LEXICON_MAX — the JVM fold needs no Python
    workers."""
    words = frozenset(_clean_lex(lexicon))
    max_len = max((len(w) for w in words), default=1)

    def fmm(t):
        out = []
        i, n = 0, len(t)
        while i < n:
            for ln in range(min(max_len, n - i), 1, -1):
                if t[i : i + ln] in words:
                    out.append(t[i : i + ln])
                    i += ln
                    break
            else:
                out.append(t[i])
                i += 1
        return out

    return _make_run_dispatch_udf(fmm)


def make_cjk_dict_max_tokens_udf(lexicon):
    """Arrow-batched ik_max_word for LARGE lexica: per han run emit every
    char plus every lexicon word's NON-OVERLAPPING occurrences (set-
    membership scan with a per-word next-allowed cursor — exactly
    str.count / JVM replace-arithmetic semantics, so the multiset matches
    the JVM path even for self-periodic words like 哈哈). Cost
    O(run_len * max_word_len) regardless of lexicon size."""
    words = frozenset(_clean_lex(lexicon))
    max_len = max((len(w) for w in words), default=1)

    def scan(t):
        out = list(t)  # every char
        n = len(t)
        next_ok: dict = {}
        for i in range(n):
            for ln in range(2, min(max_len, n - i) + 1):
                w = t[i : i + ln]
                if w in words and i >= next_ok.get(w, 0):
                    out.append(w)
                    next_ok[w] = i + ln
        return out

    return _make_run_dispatch_udf(scan)


def subtoken_len_col(sentence: Column) -> Column:
    """JVM-side subtoken-count proxy (matches kgner.textops.subtoken_len)."""
    return F.size(F.regexp_extract_all(sentence, F.lit(BPE_ISH_PATTERN), 0))


def with_sentences(pages: DataFrame) -> DataFrame:
    """pages -> sentences(url, lang, sent_id, sentence, tokens, n_tokens,
    subtoken_len).

    sent_id comes from posexplode over the order-preserving split UDF — NO
    window, NO shuffle: each page's sentences are numbered locally, so this
    stage is embarrassingly parallel at any scale.
    """
    return (
        pages.select(
            "url",
            "lang",
            F.posexplode(split_sentences_udf(F.col("text"), F.col("lang"))).alias(
                "sent_id", "s"
            ),
        )
        .select(
            "url",
            "lang",
            "sent_id",
            F.col("s.sentence").alias("sentence"),
        )
        .withColumn("tokens", tokens_col(F.col("sentence")))
        .withColumn("n_tokens", F.size("tokens"))
        .withColumn("subtoken_len", subtoken_len_col(F.col("sentence")))
    )


def with_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add a whitespace `tokens` column JVM-side."""
    return df.withColumn("tokens", tokens_col(F.col(text_col)))

