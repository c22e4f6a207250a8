"""Text-analysis operators for training-data curation, all JVM-side.

- language ID: character-class n-gram heuristic (script ranges + stopword
  hit-rates) — a deterministic, SQL-expressible stand-in for fasttext-style
  LID.
- quality scoring: length / punctuation / stopword / repetition ratios (the
  Gopher/C4-style rule family).
- token counting: whitespace + BPE-ish regex counts.
- document fingerprinting: rolling content hash (xxhash64 of normalized
  text + per-chunk hashes).

Everything is built-in pyspark.sql.functions — whole-stage codegen, no
Python in the hot path, trivially SQL-mirrored for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgner.functions.text import BPE_ISH_PATTERN

EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "that", "for", "it"]


def _ratio(part: Column, whole: Column) -> Column:
    return part.cast("double") / F.greatest(whole.cast("double"), F.lit(1.0))


def lang_id_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds script-ratio features + `lang_guess`.

    Heuristic: CJK char ratio -> zh; Arabic -> fa; Devanagari -> hi;
    Cyrillic -> ru; else stopword-hit rate picks en vs unknown-latin.
    """
    t = F.col(text_col)
    total = F.greatest(F.length(t), F.lit(1))
    cjk = F.length(F.regexp_replace(t, r"[^一-鿿]", ""))
    arab = F.length(F.regexp_replace(t, r"[^؀-ۿ]", ""))
    deva = F.length(F.regexp_replace(t, r"[^ऀ-ॿ]", ""))
    cyr = F.length(F.regexp_replace(t, r"[^Ѐ-ӿ]", ""))
    toks = F.split(F.lower(F.trim(t)), r"\s+")
    stop_hits = F.size(
        F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(s) for s in EN_STOPWORDS]))
    )
    out = (
        df.withColumn("cjk_ratio", _ratio(cjk, total))
        .withColumn("arabic_ratio", _ratio(arab, total))
        .withColumn("devanagari_ratio", _ratio(deva, total))
        .withColumn("cyrillic_ratio", _ratio(cyr, total))
        .withColumn("en_stopword_hits", stop_hits)
    )
    return out.withColumn(
        "lang_guess",
        F.when(F.col("cjk_ratio") > 0.2, "zh")
        .when(F.col("arabic_ratio") > 0.2, "fa")
        .when(F.col("devanagari_ratio") > 0.2, "hi")
        .when(F.col("cyrillic_ratio") > 0.2, "ru")
        .when(F.col("en_stopword_hits") >= 2, "en")
        .otherwise("und"),
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds C4/Gopher-style quality columns + a composite `quality_score`."""
    t = F.col(text_col)
    toks = F.split(F.lower(F.trim(t)), r"\s+")
    n_toks = F.greatest(F.size(toks), F.lit(1))
    mean_tok_len = _ratio(
        F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x)), n_toks
    )
    punct = F.length(F.regexp_replace(t, r"[^.,;:!?]", ""))
    alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    stop_ratio = _ratio(
        F.size(
            F.filter(toks, lambda x: x.isin(EN_STOPWORDS))
        ),
        n_toks,
    )
    distinct_ratio = _ratio(F.size(F.array_distinct(toks)), n_toks)
    out = (
        df.withColumn("n_tokens", F.size(toks))
        .withColumn("n_chars", F.length(t))
        .withColumn("mean_token_len", mean_tok_len)
        .withColumn("punct_ratio", _ratio(punct, F.length(t)))
        .withColumn("alpha_ratio", _ratio(alpha, F.length(t)))
        .withColumn("stopword_ratio", stop_ratio)
        .withColumn("distinct_token_ratio", distinct_ratio)
    )
    score = (
        F.when((F.col("n_tokens") >= 5) & (F.col("n_tokens") <= 100000), 0.25).otherwise(0.0)
        + F.when((F.col("mean_token_len") >= 2) & (F.col("mean_token_len") <= 12), 0.25).otherwise(0.0)
        + F.when(F.col("distinct_token_ratio") >= 0.1, 0.25).otherwise(0.0)
        + F.when(F.col("punct_ratio") <= 0.2, 0.25).otherwise(0.0)
    )
    return out.withColumn("quality_score", score)


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ws_tokens (whitespace count) and bpe_tokens (BPE-ish regex count)."""
    t = F.col(text_col)
    return df.withColumn(
        "ws_tokens", F.size(F.split(F.trim(t), r"\s+"))
    ).withColumn(
        "bpe_tokens", F.size(F.regexp_extract_all(t, F.lit(BPE_ISH_PATTERN), 0))
    )


def fingerprint(df: DataFrame, text_col: str = "text", chunk: int = 64) -> DataFrame:
    """Adds `doc_fp` (whole-doc 64-bit hash of normalized text) and
    `chunk_fps` (rolling per-`chunk`-token hashes, for partial-overlap
    detection)."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    # the tokens are projected once: a split captured in the chunk lambda
    # would re-split the whole text per chunk (lambdas run interpreted)
    tmp = "__fingerprint_toks"
    toks = F.col(tmp)
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i * chunk + 1, chunk))),
    )
    return (
        df.withColumn("doc_fp", F.xxhash64(norm))
        .withColumn(tmp, F.split(norm, " "))
        .withColumn("chunk_fps", chunks)
        .drop(tmp)
    )
