"""Mention detection: broadcast-gazetteer alias matching over sentences.

Production form of the reference's entity-in-context matching
(/root/reference/kb/context_process.py:578-657: enumerate token spans i..j,
equi-match lowercase span text). Instead of exploding every sentence into all
O(n * max_len) candidate n-grams and shuffling them into an equi-join, we
broadcast the alias index (aliases are a dimension table — small relative to
the corpus) and scan each sentence once inside an Arrow-batched UDF with the
same greedy longest-first semantics as the oracle (kgner.linkops).

Scale notes: zero shuffle — the stage is map-only over sentences; the alias
dict is broadcast once per executor (Spark broadcast, not per-task closure).
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from kgner.linkops import build_alias_index, match_aliases

MENTIONS_SCHEMA = (
    "url string, sent_id int, start int, end int, text string, entity_id string"
)


def _emit_mentions(rows: Iterable, idx, max_len: int) -> pd.DataFrame:
    """(url, sent_id, tokens) rows -> one MENTIONS_SCHEMA frame: the
    greedy longest-first gazetteer scan shared by both mention scans. A
    null token array matches nothing, like an empty one."""
    urls, sids, starts, ends, texts, ents = [], [], [], [], [], []
    for url, sid, toks in rows:
        toks = list(toks) if toks is not None else []
        for s, e, canon in match_aliases(toks, idx, max_len):
            urls.append(url)
            sids.append(sid)
            starts.append(s)
            ends.append(e)
            texts.append(" ".join(toks[s:e]))
            ents.append(canon)
    return pd.DataFrame(
        {
            "url": pd.Series(urls, dtype="object"),
            "sent_id": pd.Series(sids, dtype="int32"),
            "start": pd.Series(starts, dtype="int32"),
            "end": pd.Series(ends, dtype="int32"),
            "text": pd.Series(texts, dtype="object"),
            "entity_id": pd.Series(ents, dtype="object"),
        }
    )


def prepare_alias_broadcast(spark: SparkSession, aliases: DataFrame):
    """Collect + broadcast the alias index once (dimension prep, reusable
    across jobs — the analogue of loading a gazetteer onto executors)."""
    pairs = [
        (r["alias_norm"], r["canonical_id"])
        for r in aliases.select("alias_norm", "canonical_id").collect()
    ]
    pairs.sort()
    alias_idx, max_len = build_alias_index(pairs)
    return spark.sparkContext.broadcast((alias_idx, max_len))


def detect_mentions(
    spark: SparkSession,
    sentences: DataFrame,
    aliases: DataFrame | None = None,
    alias_broadcast=None,
) -> DataFrame:
    """sentences(url, sent_id, tokens) x aliases(alias_norm, canonical_id)
    -> mentions(url, sent_id, start, end, text, entity_id).

    Pass either the aliases DataFrame or a prebuilt `alias_broadcast` from
    prepare_alias_broadcast (hoists the driver collect out of hot loops)."""
    b_idx = alias_broadcast or prepare_alias_broadcast(spark, aliases)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx, ml = b_idx.value
        for pdf in batches:
            yield _emit_mentions(
                zip(pdf["url"], pdf["sent_id"], pdf["tokens"]), idx, ml
            )

    return sentences.select("url", "sent_id", "tokens").mapInPandas(
        scan, MENTIONS_SCHEMA
    )


def detect_mentions_from_pages(
    spark: SparkSession,
    pages: DataFrame,
    aliases: DataFrame | None = None,
    alias_broadcast=None,
) -> DataFrame:
    """FUSED hot path: pages(url, lang, html) -> mentions, in ONE Python eval.

    Composes the same pure functions as the staged path (extract_text ->
    split_sentences -> tokenize -> match_aliases) inside a single
    mapInPandas, so the full sentences/tokens intermediate never crosses the
    JVM<->Arrow boundary. Identical output to
    detect_mentions(with_sentences(extracted)) — parity-tested — but one
    worker process per task and ~3x less serialization. `Pipeline` does not
    use it: it keeps the intermediate tables for resume and the
    byte-identity checkpoint. `bench.py` times this scan.
    """
    from kgner.textops import extract_text, split_sentences, tokenize

    b_idx = alias_broadcast or prepare_alias_broadcast(spark, aliases)

    def sentence_rows(pdf: pd.DataFrame):
        for url, lang, html in zip(pdf["url"], pdf["lang"], pdf["html"]):
            text = extract_text(bytes(html) if html is not None else b"")
            for sid, sent in enumerate(split_sentences(text, lang or "en")):
                yield url, sid, tokenize(sent)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx, ml = b_idx.value
        for pdf in batches:
            yield _emit_mentions(sentence_rows(pdf), idx, ml)

    return pages.select("url", "lang", "html").mapInPandas(scan, MENTIONS_SCHEMA)

