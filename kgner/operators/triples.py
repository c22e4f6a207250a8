"""Triple materialization: mentions / links_to / co_occurs_with.

The product table (SURVEY.md §7.1): triples(subj, pred, obj, url, warc_ts?).
At cluster scale this is written partitioned by bucket(subj) so downstream
graph queries co-locate by subject.

Scale notes: co-occurrence is a self-join per sentence — bounded because it
runs on the per-sentence DISTINCT entity set (collect_set then explode of
ordered pairs inside the row via array ops, no shuffle-side blowup on hot
sentences beyond the set size itself, which the filter caps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_ENTITIES_PER_SENT = 64  # giant-page safety cap for the pair expansion


def _mention_rows(mentions: DataFrame) -> DataFrame:
    return mentions.select(
        F.col("url").alias("subj"),
        F.lit("mentions").alias("pred"),
        F.col("entity_id").alias("obj"),
        "url",
    )


def mention_triples(mentions: DataFrame) -> DataFrame:
    """(url, "mentions", entity) — one per distinct (url, entity)."""
    return _mention_rows(mentions).dropDuplicates(["subj", "pred", "obj"])


def _cooccurrence_rows(mentions: DataFrame) -> DataFrame:
    ents = (
        mentions.groupBy("url", "sent_id")
        .agg(F.array_sort(F.collect_set("entity_id")).alias("ents"))
        .filter((F.size("ents") >= 2) & (F.size("ents") <= MAX_ENTITIES_PER_SENT))
    )
    pairs = ents.select(
        "url",
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ents"),
                    lambda a, i: F.transform(
                        F.slice(
                            F.col("ents"), i + 2, F.size(F.col("ents"))
                        ),
                        lambda b: F.struct(a.alias("subj"), b.alias("obj")),
                    ),
                )
            )
        ).alias("p"),
    )
    return pairs.select(
        F.col("p.subj").alias("subj"),
        F.lit("co_occurs_with").alias("pred"),
        F.col("p.obj").alias("obj"),
        "url",
    )


def cooccurrence_triples(mentions: DataFrame) -> DataFrame:
    """(a, "co_occurs_with", b) for entity pairs in the same sentence, a<b,
    one per distinct (a, b, url).

    Built row-local: collect_set entities per sentence, sort, expand ordered
    pairs with array ops — the pair expansion never shuffles.
    """
    return _cooccurrence_rows(mentions).dropDuplicates(
        ["subj", "pred", "obj", "url"]
    )


def _link_rows(kb_sents: DataFrame, canon: DataFrame) -> DataFrame:
    """KB anchors -> (page_entity, "links_to", target_entity, url), before
    dedup (all_triples dedups).

    canon: (alias_norm, canonical_id) — broadcast (dimension-sized).
    Mirrors the page->anchor edges of /root/reference/kb/parse_text.py:53-71.
    """
    anchors = kb_sents.select(
        "title", "url", F.explode("anchors").alias("a")
    ).select(
        "title",
        "url",
        F.lower(F.col("a.target_title")).alias("target_norm"),
    )
    # one broadcast serves both joins: the two sides are the same plan, so
    # Spark reuses the exchange instead of broadcasting the map twice
    c = F.broadcast(canon.select("alias_norm", "canonical_id"))
    t, o = c.alias("t"), c.alias("o")
    return (
        anchors.join(t, F.lower(F.col("title")) == F.col("t.alias_norm"))
        .join(o, F.col("target_norm") == F.col("o.alias_norm"), "left")
        .select(
            F.col("t.canonical_id").alias("subj"),
            F.lit("links_to").alias("pred"),
            F.coalesce("o.canonical_id", "target_norm").alias("obj"),
            "url",
        )
    )


def all_triples(
    mentions: DataFrame, kb_sents: DataFrame, canon: DataFrame
) -> DataFrame:
    """mentions ∪ co_occurs_with ∪ links_to triples, deduplicated by ONE
    shuffle over the union instead of one per part.

    The dedup key is (subj, pred, obj), plus url for co_occurs_with — each
    part's own key. `pred` differs between the parts, so no key spans two
    parts and the rows kept are those the three separate dedups keep.
    """
    key = F.when(F.col("pred") == "co_occurs_with", F.col("url"))
    return (
        _mention_rows(mentions)
        .unionByName(_cooccurrence_rows(mentions))
        .unionByName(_link_rows(kb_sents, canon))
        .withColumn("_dedup_url", key)
        .dropDuplicates(["subj", "pred", "obj", "_dedup_url"])
        .drop("_dedup_url")
    )
