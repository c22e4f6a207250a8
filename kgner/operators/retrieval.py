"""BM25 top-k retrieval as a similarity join over postings tables.

This is the system's heart (SURVEY.md §2 J-1): the reference queries an
ElasticSearch index with bool.should match on sentence text plus an optional
title clause boosted x2 (/root/reference/kb/generate_data.py:33-68, index
analyzers kb/build_kb.py:17-36). Here the "index" is data:

    queries(query_id, tokens)        -- one row per query sentence
    postings(term, doc_id, tf)       -- the inverted index
    docs(doc_id, len, title, url, sentence)

and retrieval is: explode query terms -> equi-join postings on term ->
per-(query,doc) BM25 partial-sum -> window top-k with the deterministic
tiebreak (score desc, doc_id asc) from SURVEY §7.3.

Scale notes:
- the join is keyed on `term`; stopword terms are the skew axis — AQE skew
  split handles it, and the idf weight makes their contribution tiny. At
  cluster scale the postings table is bucketed by term so only the query
  side shuffles.
- df/idf and avg_len are tiny per-term / scalar aggregates computed once and
  broadcast into the join (no driver collect of data-sized state).
- the final top-k is a window over query_id — the natural partitioning; with
  AQE the post-aggregation partition count adapts to the query count.
- the entity boost's title postings are map-only: each docs row is one
  doc_id, so title tf is counted inside the row (kbbuild.term_frequencies),
  as kb_index counts the text postings. The title df and stats are still
  derived from docs on every call.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kgner.bm25 import B, K1
from kgner.operators.kbbuild import term_frequencies


def bm25_topk(
    queries: DataFrame,
    postings: DataFrame,
    docs: DataFrame,
    k: int = 10,
    boost_entities: DataFrame | None = None,
    title_boost: float = 2.0,
    max_df_ratio: float | None = None,
    with_hits: bool = True,
    lang_col: str | None = None,
) -> DataFrame:
    """-> retrievals(query_id, rank, doc_id, score, sentence, title, url,
    [paragraph,] matched_terms array<string>, highlight string) —
    paragraph included when the docs table carries it; matched_terms and
    highlight only when `with_hits` (ES computes highlights on request —
    a production top-k that doesn't consume them shouldn't pay the
    collect_set + markup rebuild).

    queries: (query_id, tokens array<string>) — tokens already lowercased.
    boost_entities: optional (query_id, entity string) rows; adds the
    reference's entity->title boost clause (generate_data.py:52-55) with
    ES-exact semantics: bool.should SUMS the clause scores, and
    match(title, {boost: 2.0}) MULTIPLIES the TITLE-FIELD BM25 score — tf
    counted in the title, title length and avg title length as the field
    norm, df = number of docs whose title contains the term, and idf's N =
    the count of docs WITH a non-empty title (ES/Lucene per-field
    docCount, not the corpus size). So
    score = text_bm25 + title_boost * title_bm25(entity terms).

    matched_terms/highlight mirror the ES highlight hits the reference's
    retrieval rows carry (kb/generate_data.py:44-48,62-68; row format
    README.md:248-272): the query terms that scored in this doc, and the
    sentence with each matched token wrapped in <hit></hit>.

    max_df_ratio: THE web-scale knob. Query terms whose document frequency
    exceeds this fraction of the corpus are dropped BEFORE the postings join
    (a query containing "the" would otherwise join ~n_docs posting rows per
    occurrence — at 10^12 docs one stopword dominates the shuffle while
    contributing ~zero score, since idf(df~N) ~ 0). This is the common-terms
    cutoff ES historically applied for the same reason. None = exact BM25
    over all terms (the oracle-checked default).

    lang_col: per-language index scoping. The reference keeps ONE ES INDEX
    PER LANGUAGE ({lang}wiki_v1 with per-language analyzers,
    kb/build_kb.py:17-22, kb/generate_data.py:21-24) and routes each query
    to its language's index, so df / n_docs / avg_len are all
    LANGUAGE-LOCAL statistics and a query never matches another language's
    docs. Pass the column name (present on queries, postings, AND docs) to
    reproduce that; None = the reference's "mix" mode (`*wiki_v1` wildcard
    treated as one unscoped union index with global statistics). Scoping
    only ADDS a join key — the plan shape (one postings scan, broadcast
    stats/df, term-keyed shuffle) is unchanged, and at 10^12 docs it
    SHRINKS the shuffle: each query term joins only its language's
    postings rows instead of every language's.

    NULL lang never equi-joins: rows with a NULL lang value silently match
    nothing under scoping. Fill a sentinel first — kb_index and the
    pipeline route NULL lang to "und" (an unknown-language index) so
    lang-id failures degrade to und-vs-und retrieval, not silence.
    """
    langk = [lang_col] if lang_col else []

    def with_stats(df: DataFrame, s: DataFrame) -> DataFrame:
        # per-lang stats join by lang (broadcast: one row per language);
        # unscoped stats are a single row crossJoined in
        return df.join(F.broadcast(s), langk) if langk else df.crossJoin(
            F.broadcast(s)
        )

    # Single derivation chain: df and corpus stats both come from `postings`
    # (one scan of the index; at cluster scale postings is a bucketed table,
    # so these aggregates read it shuffle-free on the term key).
    stats = docs.groupBy(*langk).agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("len").alias("avg_len")
    )
    doc_freq = postings.groupBy(*langk, "term").agg(
        F.count(F.lit(1)).alias("df")
    )

    qterms = queries.select(
        "query_id", *langk, F.explode(F.array_distinct("tokens")).alias("term")
    )
    if max_df_ratio is not None:
        # broadcast the DROP set (over-frequent terms — tiny: stopwords),
        # never the keep set (≈ the whole vocabulary); when lang-scoped the
        # cutoff is judged against the LANGUAGE's own n_docs (a term can be
        # a stopword in en and informative in de)
        drop = with_stats(doc_freq, stats.select(*langk, "n_docs")).filter(
            F.col("df") > F.col("n_docs") * max_df_ratio
        )
        qterms = qterms.join(
            F.broadcast(drop.select("term", *langk)), ["term", *langk], "left_anti"
        )
    # distinct terms per query: BM25 sums each matched term once per doc with
    # the doc-side tf (the ES match query sums per unique query term). One
    # chain serves both modes: the join key is ["term", *langk] (langk
    # empty in mix mode) and with_stats picks per-lang join vs crossJoin.
    # doc_freq is VOCABULARY-sized — not force-broadcast (unbounded at
    # scale, and the driver collect costs more than the join it saves);
    # the qterms-join output is query-term-sized, so AQE picks the
    # broadcast side from runtime stats.
    scored = with_stats(
        qterms.join(postings, ["term", *langk])
        .join(doc_freq, ["term", *langk])
        .join(docs.select("doc_id", "len"), "doc_id"),
        stats,
    )
    scored = (
        scored
        .withColumn(
            "idf",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * F.col("tf")
            * (K1 + 1.0)
            / (
                F.col("tf")
                + K1 * (1.0 - B + B * F.col("len") / F.col("avg_len"))
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("contrib").alias("score"),
            # per-result matched-terms: every joined term contributed > 0
            # (idf = ln(1+x), x > 0; tf >= 1) — the engine-side equivalent of
            # the ES highlight hits the reference consumes downstream
            # (kb/generate_data.py:44-48,62-68: pre/post <hit> tags on text)
            *(
                [F.sort_array(F.collect_set("term")).alias("matched_terms")]
                if with_hits
                else []
            ),
        )
    )

    if boost_entities is not None:
        # TITLE-FIELD BM25 (generate_data.py:52-55): per-field statistics —
        # tf within the title, title length as the norm, df over titles.
        # ES computes per-field stats over docs WHERE THE FIELD EXISTS
        # (Lucene docCount / sumTotalTermFreq are field-local), so docs with
        # a null/empty title are excluded from n_tdocs, avg_tlen, and tdf.
        # The title postings are map-only: each docs row is one doc_id
        # (docs comes from kb_index, keyed on it), so a term's tf is counted
        # inside the row by kbbuild.term_frequencies, with no groupBy and no
        # shuffle. Titles are dimension-sized relative to the corpus text,
        # so the two title aggregates (tstats, tdf) broadcast.
        ttoks = docs.select(
            "doc_id",
            *langk,
            F.split(F.trim(F.lower("title")), r"\s+").alias("ttoks"),
        ).filter(F.col("ttoks").isNotNull() & (F.col("ttoks") != F.array(F.lit(""))))
        tpostings = term_frequencies(
            ttoks.select("doc_id", *langk, F.size("ttoks").alias("tlen"), "ttoks"),
            F.col("ttoks"),
            ["doc_id", *langk, "tlen"],
            tf="ttf",
        )
        tstats = ttoks.groupBy(*langk).agg(
            F.avg(F.size("ttoks")).alias("avg_tlen"),
            F.count(F.lit(1)).alias("n_tdocs"),
        )
        tdf = tpostings.groupBy(*langk, "term").agg(F.count(F.lit(1)).alias("tdf"))
        ent_terms = boost_entities.select(
            "query_id", F.explode(F.split(F.lower("entity"), r"\s+")).alias("term")
        ).distinct()
        if langk:
            # the boost clause goes to the same per-language index as the
            # query itself — pick up each query's language
            ent_terms = ent_terms.join(
                F.broadcast(queries.select("query_id", *langk).distinct()),
                "query_id",
            )
        boosts = (
            ent_terms.join(tpostings, ["term", *langk])
            .join(F.broadcast(tdf), ["term", *langk])
        )
        boosts = (
            with_stats(boosts, tstats)
            .withColumn(
                "tcontrib",
                F.log(
                    1.0
                    + (F.col("n_tdocs") - F.col("tdf") + 0.5) / (F.col("tdf") + 0.5)
                )
                * F.col("ttf")
                * (K1 + 1.0)
                / (
                    F.col("ttf")
                    + K1 * (1.0 - B + B * F.col("tlen") / F.col("avg_tlen"))
                ),
            )
            .groupBy("query_id", "doc_id")
            .agg((F.lit(title_boost) * F.sum("tcontrib")).alias("boost"))
        )
        scored = (
            scored.join(boosts, ["query_id", "doc_id"], "outer")
            .fillna(0.0, subset=["score", "boost"])
            .select(
                "query_id",
                "doc_id",
                (F.col("score") + F.col("boost")).alias("score"),
                *(
                    [
                        F.coalesce(
                            "matched_terms", F.array().cast("array<string>")
                        ).alias("matched_terms")
                    ]
                    if with_hits
                    else []
                ),
            )
        )

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    # paragraph rides along when the docs table has it (the reference's
    # retrieval rows carry _source.paragraph, kb/generate_data.py:65)
    extra = ["paragraph"] if "paragraph" in docs.columns else []
    topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .join(docs.select("doc_id", "sentence", "title", "url", *extra), "doc_id")
    )
    if with_hits:
        topk = topk.withColumn(
            "highlight", highlight_col(F.col("sentence"), F.col("matched_terms"))
        )
    hits = ["matched_terms", "highlight"] if with_hits else []
    return topk.select(
        "query_id",
        "rank",
        "doc_id",
        "score",
        "sentence",
        "title",
        "url",
        *extra,
        *hits,
    )


def highlight_col(sentence: Column, matched_terms: Column) -> Column:
    """ES-style highlight (kb/generate_data.py:44-48: pre_tags ["<hit>"],
    post_tags ["</hit>"]): wrap each space-delimited token whose lowercase
    CORE (leading/trailing non-alphanumerics stripped) is a matched term.
    Postings are built with a punctuation-splitting tokenizer, so a sentence
    token like "Paris," scores for term "paris" — ES marks it; stripping the
    punctuation before the lookup and re-attaching it around the <hit> tags
    matches that. Token-rebuild rather than regexp_replace — a matched term
    like "hit" must not re-match inside an inserted <hit> tag.

    Splits on a SINGLE literal space so the original text round-trips
    byte-identically in unmatched regions (runs of spaces survive as empty
    array elements that concat_ws re-emits). Tokens containing tabs/newlines
    are left unmarked — sentence text from the splitter is space-delimited,
    so in practice this marks exactly the positions that scored. JVM-only
    (transform/array_contains/regexp)."""
    EDGE = r"^[^\p{L}\p{N}]+|[^\p{L}\p{N}]+$"

    def mark(t: Column) -> Column:
        core = F.regexp_replace(t, EDGE, "")
        lead = F.regexp_extract(t, r"^([^\p{L}\p{N}]+)", 1)
        trail = F.regexp_extract(t, r"([^\p{L}\p{N}]+)$", 1)
        return F.when(
            F.array_contains(matched_terms, F.lower(t)),
            # exact-token match first: keeps the original behavior when the
            # whole token (punctuation included) is itself a matched term
            F.concat(F.lit("<hit>"), t, F.lit("</hit>")),
        ).when(
            # all-punctuation tokens have core = "" and never match (terms
            # are non-empty); lead == trail == t there, so no double-emit
            (F.length(core) > 0) & F.array_contains(matched_terms, F.lower(core)),
            F.concat(lead, F.lit("<hit>"), core, F.lit("</hit>"), trail),
        ).otherwise(t)

    return F.concat_ws(" ", F.transform(F.split(sentence, " ", -1), mark))
