"""The four benchmark workloads.

Each workload builds its inputs from the seed (`setup`), runs the measured
DAG through kgner's public API (`run`; given a tracer, each module call is
wrapped in a span), checks a run's committed output against a reference
computed outside Spark (`check`), and reads a traced run's per-layer counts
(`counts`).

The program only ever sees the generated tables, committed as parquet under
the workload's input directory before the timed window opens.
"""

from __future__ import annotations

import dataclasses
import os
import random
import zlib
from contextlib import nullcontext
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import functions as F

HOT_HOST = "hot.example.com"


def read_rows(path: str, columns: list[str]) -> list[dict]:
    """A committed table's rows, read with pyarrow (no Spark job)."""
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=columns).to_pylist()


def input_schemas():
    """pyarrow schemas of the generated input tables (the kgner.fixtures
    Spark schemas)."""
    import pyarrow as pa

    anchor = pa.struct(
        [
            ("start", pa.int32()),
            ("end", pa.int32()),
            ("mention", pa.string()),
            ("target_title", pa.string()),
        ]
    )
    paragraph = pa.struct([("text", pa.string()), ("anchors", pa.list_(anchor))])
    return {
        "pages": pa.schema(
            [
                ("url", pa.string()),
                ("warc_ts", pa.timestamp("us", tz="UTC")),
                ("html", pa.binary()),
                ("text", pa.string()),
                ("lang", pa.string()),
            ]
        ),
        "kb_pages": pa.schema(
            [
                ("title", pa.string()),
                ("paragraphs", pa.list_(paragraph)),
                ("lang", pa.string()),
            ]
        ),
        "redirects": pa.schema(
            [("alias_title", pa.string()), ("canonical_title", pa.string())]
        ),
        "documents": pa.schema([("doc_id", pa.int64()), ("text", pa.string())]),
    }


def dir_files_mb(path: str) -> tuple[int, float]:
    """(parquet files, MiB of parquet data) under path."""
    files, size = 0, 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size / (1024.0 * 1024.0)


@dataclass
class RunOutput:
    """What one run produced: the work unit count behind the throughput
    metric, and the stages a resume skipped (must be none)."""

    items: int
    skipped: list[str] = field(default_factory=list)


def _span(tracer, name):
    return tracer.span(name) if tracer is not None else nullcontext()


# --- crawl inflation with re-keyed urls -------------------------------------------


def rekey(url: str, rep: int, hot_reps: int) -> str:
    """The url replica `rep` of a fixture page gets (mirror of the Spark
    expression in inflate_pages)."""
    tail = f"{url[len('https://'):]}/{rep}"
    if rep < hot_reps:
        host = HOT_HOST
    else:
        host = f"w{zlib.crc32(tail.encode('utf-8')) % 32:02d}.example.net"
    return f"https://{host}/{tail}"


def inflate_pages(pages, factor: int, hot_reps: int):
    """Distributed x`factor` inflation: each fixture page becomes `factor`
    pages with distinct urls. Replicas below `hot_reps` move to one hot
    domain; the rest spread over 32 domains by a crc32 of the url."""
    rep = F.col("rep")
    tail = F.concat(F.expr("substring(url, 9)"), F.lit("/"), rep.cast("string"))
    uniform = F.concat(
        F.lit("w"),
        F.lpad((F.crc32(tail.cast("binary")) % 32).cast("string"), 2, "0"),
        F.lit(".example.net"),
    )
    host = F.when(rep < hot_reps, F.lit(HOT_HOST)).otherwise(uniform)
    return (
        pages.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(factor - 1))))
        .withColumn("url", F.concat(F.lit("https://"), host, F.lit("/"), tail))
        .drop("rep")
    )


def expected_triples(fx, factor: int, hot_reps: int) -> set[tuple[str, str, str]]:
    """oracle_triples on the fixture, with every page url replaced by its
    replicas' re-keyed urls."""
    from kgner.oracle.pipeline import oracle_triples

    out = set()
    for s, p, o in oracle_triples(fx):
        if p == "mentions":
            out.update((rekey(s, r, hot_reps), p, o) for r in range(factor))
        else:
            out.add((s, p, o))
    return out


def with_sentences(fx, target: int):
    """The fixture cut to the pages, taken in order, that fit `target`
    sentences, so every seed feeds the program the same amount of text."""
    from kgner.textops import split_sentences

    pages, total = [], 0
    for page in fx.pages:
        n = len(split_sentences(page["text"], page["lang"]))
        if total + n <= target:
            pages.append(page)
            total += n
    return dataclasses.replace(fx, pages=pages)


def capped_fixture(fx, max_chars: int):
    """The fixture as the oracle must see it when extraction caps text at
    max_chars: each page's html re-rendered from its capped text."""
    from html import escape

    from kgner.textops import extract_text

    pages = []
    for page in fx.pages:
        text = extract_text(page["html"], max_chars=max_chars)
        html = "".join(
            f"<p>{escape(line, quote=False)}</p>" for line in text.split("\n")
        )
        html = f"<html><body>{html}</body></html>".encode("utf-8")
        pages.append(dict(page, html=html, text=extract_text(html)))
    return dataclasses.replace(fx, pages=pages)


# --- base class ---------------------------------------------------------------------


class Workload:
    name = ""

    def __init__(self, spark, input_dir: str, seed: int, smoke: bool):
        self.spark = spark
        self.input_dir = input_dir
        self.seed = seed
        self.smoke = smoke

    def table(self, name: str):
        return self.spark.read.parquet(os.path.join(self.input_dir, name))

    def generate(self, name: str, rows: list[dict], table: str | None = None) -> None:
        """Write generated rows as an input table, with pyarrow: the
        generator does not use the Spark session under test."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self.input_dir, table or name)
        os.makedirs(path, exist_ok=True)
        schema = input_schemas()[name]
        pq.write_table(
            pa.Table.from_pylist(rows, schema=schema),
            os.path.join(path, "part-00000.parquet"),
        )

    def generate_fixture(self, fx, base_pages: str = "pages") -> None:
        self.generate("pages", fx.pages, base_pages)
        self.generate("kb_pages", fx.kb_pages)
        self.generate("redirects", fx.redirects)

    def setup(self) -> None:
        raise NotImplementedError

    def run(self, run_dir: str, tracer=None) -> RunOutput:
        raise NotImplementedError

    def check(self, run_dir: str) -> bool:
        raise NotImplementedError

    def counts(self, run_dir: str) -> dict[str, float]:
        """Per-layer counts of a finished traced run, read from its
        committed tables and lineage."""
        raise NotImplementedError


# --- crawl_triples / hot_domain_skew --------------------------------------------------


class CrawlTriples(Workload):
    """Core Pipeline (extracted -> sentences -> kb_sentences -> canonical ->
    mentions -> triples) on a uniform-domain crawl."""

    name = "crawl_triples"
    spans = (
        "text.extract",
        "text.sentences",
        "kbbuild.kb_sentences",
        "canonicalize",
        "mentions",
        "triples",
    )
    entities = 150
    hot_reps = 0
    giant_share = 0.0

    def sizes(self) -> tuple[int, int | None, int]:
        """(fixture pages, sentence budget or None for all, inflation factor)."""
        return (12, None, 2) if self.smoke else (150, 2000, 4)

    def config(self, run_dir: str):
        from kgner.pipeline import PipelineConfig

        return PipelineConfig(workdir=run_dir)

    def setup(self) -> None:
        from kgner.fixtures import build_fixtures

        pages, budget, self.factor = self.sizes()
        self.fx = build_fixtures(
            n_entities=self.entities,
            n_pages=pages,
            giant_pages=round(pages * self.giant_share),
            seed=self.seed,
        )
        if budget:
            self.fx = with_sentences(self.fx, budget)
        self.generate_fixture(self.fx, base_pages="fixture_pages")
        inflated = inflate_pages(self.table("fixture_pages"), self.factor, self.hot_reps)
        self.arrange(inflated).write.parquet(os.path.join(self.input_dir, "pages"))
        self.html_mb = self.factor * sum(len(p["html"]) for p in self.fx.pages) / (
            1024.0 * 1024.0
        )
        self._expected = None

    def arrange(self, pages):
        """How the committed crawl is partitioned: as generated."""
        return pages

    def pipeline(self, run_dir: str):
        from kgner.pipeline import Pipeline

        return Pipeline(
            self.spark,
            self.config(run_dir),
            self.table("pages"),
            self.table("kb_pages"),
            self.table("redirects"),
        )

    def run(self, run_dir: str, tracer=None) -> RunOutput:
        pipe = self.pipeline(run_dir)
        if tracer is None:
            pipe.run()
        else:
            stages = (
                pipe.stage_extracted,
                pipe.stage_sentences,
                pipe.stage_kb,
                pipe.stage_canonical,
                pipe.stage_mentions,
                pipe.stage_triples,
            )
            for name, stage in zip(self.spans, stages):
                with tracer.span(name):
                    stage()
        rows = {r["stage"]: r["rows_out"] for r in pipe.lineage.read_all()}
        return RunOutput(items=rows.get("triples", 0), skipped=list(pipe.skipped))

    def expected(self) -> set[tuple[str, str, str]]:
        if self._expected is None:
            self._expected = expected_triples(self.fx, self.factor, self.hot_reps)
        return self._expected

    def check(self, run_dir: str) -> bool:
        got = {
            (r["subj"], r["pred"], r["obj"])
            for r in read_rows(
                os.path.join(run_dir, "triples"), ["subj", "pred", "obj"]
            )
        }
        return got == self.expected()

    def counts(self, run_dir: str) -> dict[str, float]:
        from kgner.lineage import LineageLog

        recs = {r["stage"]: r for r in LineageLog(run_dir).read_all()}
        parts = [n for n in (recs["extracted"]["partitions"] or {}).values() if n > 0]
        sentences = recs["sentences"]["rows_out"]
        mentions = read_rows(os.path.join(run_dir, "mentions"), ["url", "sent_id"])
        files, mb = dir_files_mb(run_dir)
        return {
            "text.html_mb_in": self.html_mb,
            "text.sentences_out": sentences,
            "pipeline.extracted_max_part_share": max(parts) / max(sum(parts), 1),
            "kbbuild.kb_sentences_out": recs["kb_sentences"]["rows_out"],
            "canonicalize.aliases_out": recs["canonical"]["rows_out"],
            "mentions.sentences_in": sentences,
            "mentions.mentions_out": len(mentions),
            "mentions.hit_ratio": len({(m["url"], m["sent_id"]) for m in mentions})
            / max(sentences, 1),
            "triples.triples_out": recs["triples"]["rows_out"],
            "io.files_written": files,
            "io.mb_written": mb,
        }


class HotDomainSkew(CrawlTriples):
    """The same DAG on a crawl where 7 of every 8 page replicas belong to one
    domain, committed partitioned by domain, with giant pages; salting and
    the text cap are on."""

    name = "hot_domain_skew"
    hot_reps = 7
    giant_share = 0.04
    max_text_chars = 20_000

    def sizes(self) -> tuple[int, int | None, int]:
        return (12, None, 8) if self.smoke else (50, None, 8)

    def config(self, run_dir: str):
        from kgner.pipeline import PipelineConfig

        return PipelineConfig(
            workdir=run_dir,
            salt_buckets=8,
            salt_threshold=0.5,
            max_text_chars=self.max_text_chars,
        )

    def arrange(self, pages):
        # pages arrive partitioned by domain: the hot domain is one file
        return pages.repartition(8, F.parse_url(F.col("url"), F.lit("HOST")))

    def expected(self) -> set[tuple[str, str, str]]:
        if self._expected is None:
            self._expected = expected_triples(
                capped_fixture(self.fx, self.max_text_chars), self.factor, self.hot_reps
            )
        return self._expected


# --- retrieval_ner -----------------------------------------------------------------------

LABELS = ("PER", "LOC", "GRP", "CORP", "PROD", "CW")
TAGSET = ["O"] + [f"{p}-{lbl}" for lbl in LABELS for p in ("B", "I")]
MAX_DF_RATIO = 0.2
N_MODELS = 3
TOP_K = 10


def retrieval_queries(sents):
    """The sentence queries Pipeline's retrieval stages issue."""
    return sents.select(
        F.xxhash64("url", "sent_id").alias("query_id"),
        F.transform("tokens", lambda t: F.lower(t)).alias("tokens"),
    )


class RetrievalNer(Workload):
    """Both retrieval rounds against a 1500-entity KB, then CRF tagging of
    the context-augmented stream by three models, context stripping and the
    majority vote."""

    name = "retrieval_ner"
    upstream = ("extracted", "sentences", "kb_sentences", "canonical", "mentions")

    def setup(self) -> None:
        import numpy as np

        from kgner.fixtures import build_fixtures
        from kgner.operators.inference import make_gazetteer_model
        from kgner.pipeline import Pipeline, PipelineConfig

        entities, pages, queries = (200, 4, 60) if self.smoke else (1500, 30, 200)
        fx = build_fixtures(
            n_entities=entities, n_pages=pages, giant_pages=0, seed=self.seed
        )
        self.generate_fixture(with_sentences(fx, queries))
        # sentences, KB sentences, canonical map and stage-1 mentions are
        # committed here, so a measured run's resume skips them
        self.base = os.path.join(self.input_dir, "upstream")
        Pipeline(
            self.spark,
            PipelineConfig(workdir=self.base, stages=list(self.upstream)),
            self.table("pages"),
            self.table("kb_pages"),
            self.table("redirects"),
        ).run()
        weights, self.transitions = make_gazetteer_model(TAGSET, {})
        rng = np.random.RandomState(self.seed % (2**32))
        self.models = [
            weights + rng.randn(*weights.shape) * 0.003 for _ in range(N_MODELS)
        ]
        self.n_queries = len(read_rows(os.path.join(self.base, "sentences"), ["sent_id"]))
        self._oracle = None

    def _link_upstream(self, run_dir: str) -> None:
        os.makedirs(run_dir, exist_ok=True)
        for name in self.upstream:
            os.symlink(os.path.join(self.base, name), os.path.join(run_dir, name))

    def _tag(self, augmented):
        """Every model's CRF tags over the augmented stream, with the token
        stream the strip step cuts at <EOS>."""
        from kgner.operators.inference import tag_with_crf

        stream = augmented.select(
            F.col("query_id").cast("string").alias("url"),
            F.lit(0).alias("sent_id"),
            F.split("augmented", " ").alias("tokens"),
        ).withColumn("subtoken_len", F.size("tokens"))
        tagged = None
        for m, w in enumerate(self.models):
            one = tag_with_crf(stream, w, self.transitions, TAGSET).withColumn(
                "model_id", F.lit(m)
            )
            tagged = one if tagged is None else tagged.unionByName(one)
        return tagged.join(stream.select("url", "sent_id", "tokens"), ["url", "sent_id"])

    def run(self, run_dir: str, tracer=None) -> RunOutput:
        from kgner import io
        from kgner.pipeline import Pipeline, PipelineConfig

        self._link_upstream(run_dir)
        inputs = (self.table("pages"), self.table("kb_pages"), self.table("redirects"))
        if tracer is not None:
            return self._traced(run_dir, tracer)
        pipe = Pipeline(
            self.spark,
            PipelineConfig(
                workdir=run_dir,
                max_df_ratio=MAX_DF_RATIO,
                stages=["retrievals", "retrievals2"],
            ),
            *inputs,
        )
        pipe.run()
        io.write_table(
            self._tag(io.read_table(self.spark, run_dir, "retrievals")),
            run_dir,
            "predictions",
        )
        vote = Pipeline(
            self.spark,
            PipelineConfig(workdir=run_dir, stages=[]),
            *inputs,
            model_predictions=io.read_table(self.spark, run_dir, "predictions"),
        )
        vote.run()
        return RunOutput(items=self.n_queries, skipped=pipe.skipped + vote.skipped)

    def _traced(self, run_dir: str, tracer) -> RunOutput:
        from kgner import io
        from kgner.operators.context import assemble_context
        from kgner.operators.ensemble import ensemble_votes, strip_context_tags
        from kgner.operators.kbbuild import kb_index, kb_sentences
        from kgner.operators.retrieval import bm25_topk

        spark = self.spark

        def read(name):
            return io.read_table(spark, run_dir, name)

        def write(name, df):
            io.write_table(df, run_dir, name)

        sents = read("sentences")
        queries = retrieval_queries(sents)
        with tracer.span("kbbuild.kb_sentences"):
            write("kb_sentences_traced", kb_sentences(self.table("kb_pages")))
        with tracer.span("kbbuild.index"):
            postings, docs = kb_index(read("kb_sentences_traced"))
            write("postings", postings)
            write("docs", docs)
        postings, docs = read("postings"), read("docs")
        with tracer.span("retrieval.round1"):
            write(
                "topk",
                bm25_topk(queries, postings, docs, k=TOP_K, max_df_ratio=MAX_DF_RATIO),
            )
        with tracer.span("context"):
            qsent = sents.select(F.xxhash64("url", "sent_id").alias("query_id"), "sentence")
            write(
                "retrievals",
                assemble_context(qsent, read("topk").select("query_id", "rank", "sentence")),
            )
        with tracer.span("retrieval.round2"):
            boosts = read("mentions").select(
                F.xxhash64("url", "sent_id").alias("query_id"),
                F.col("entity_id").alias("entity"),
            ).distinct()
            write(
                "retrievals2",
                bm25_topk(
                    queries,
                    postings,
                    docs,
                    k=TOP_K,
                    boost_entities=boosts,
                    max_df_ratio=MAX_DF_RATIO,
                ),
            )
        with tracer.span("inference"):
            write("predictions", self._tag(read("retrievals")))
        with tracer.span("ensemble.strip"):
            write("stripped", strip_context_tags(read("predictions"), strip_cols=("tags",)))
        with tracer.span("ensemble.vote"):
            write(
                "ensembled",
                ensemble_votes(read("stripped").select("model_id", "url", "sent_id", "tags")),
            )
        return RunOutput(items=self.n_queries)

    # -- output check ------------------------------------------------------------

    def oracle(self) -> dict[int, list[tuple[int, float]]]:
        """bm25_rank top-10 of a seeded sample of queries, with the
        max_df_ratio cutoff and the entity boost applied as the Pipeline
        applies them."""
        if self._oracle is not None:
            return self._oracle
        from kgner.bm25 import bm25_rank
        from kgner.operators.kbbuild import kb_index

        postings, docs = kb_index(
            self.spark.read.parquet(os.path.join(self.base, "kb_sentences"))
        )
        plist: dict[str, dict[int, int]] = {}
        for r in postings.select("term", "doc_id", "tf").collect():
            plist.setdefault(r["term"], {})[r["doc_id"]] = r["tf"]
        doc_rows = docs.select("doc_id", "len", "title").collect()
        lens = {r["doc_id"]: r["len"] for r in doc_rows}
        titles = {
            r["doc_id"]: (r["title"] or "").strip().lower().split() for r in doc_rows
        }
        cutoff = MAX_DF_RATIO * len(lens)
        sents = self.spark.read.parquet(os.path.join(self.base, "sentences"))
        qs = sorted(
            (r["query_id"], r["tokens"])
            for r in retrieval_queries(sents).collect()
        )
        sample = random.Random(self.seed).sample(qs, min(25, len(qs)))
        ments = self.spark.read.parquet(os.path.join(self.base, "mentions")).select(
            F.xxhash64("url", "sent_id").alias("query_id"), "entity_id"
        )
        boost: dict[int, set[str]] = {}
        for r in ments.collect():
            boost.setdefault(r["query_id"], set()).update(r["entity_id"].lower().split())
        # five ranks past k, so ties at the k-th score are visible
        self._oracle = {
            qid: bm25_rank(
                [t for t in toks if len(plist.get(t, ())) <= cutoff],
                plist,
                lens,
                k=TOP_K + 5,
                title_tokens=titles,
                boost_terms=sorted(boost.get(qid, ())),
            )
            for qid, toks in sample
        }
        return self._oracle

    def check(self, run_dir: str) -> bool:
        return self._check_topk(run_dir) and self._check_votes(run_dir)

    def _check_topk(self, run_dir: str) -> bool:
        want = self.oracle()
        got: dict[int, list[tuple[int, int, float]]] = {}
        for r in read_rows(
            os.path.join(run_dir, "retrievals2"), ["query_id", "rank", "doc_id", "score"]
        ):
            if r["query_id"] in want:
                got.setdefault(r["query_id"], []).append(
                    (r["rank"], r["doc_id"], r["score"])
                )

        def close(a: float, b: float) -> bool:
            return abs(a - b) <= 1e-6 * max(1.0, abs(b))

        for qid, ranked in want.items():
            mine = [(d, s) for _, d, s in sorted(got.get(qid, []))]
            if len(mine) != min(TOP_K, len(ranked)):
                return False
            for (d1, s1), (d2, s2) in zip(mine, ranked):
                # scores must agree rank by rank; doc ids only where no
                # other doc (within or just past the top k) ties the score
                if not close(s1, s2):
                    return False
                if d1 != d2 and sum(close(s, s2) for _, s in ranked) == 1:
                    return False
        return True

    def _check_votes(self, run_dir: str) -> bool:
        from kgner.spanops import decode_spans, majority_vote

        votes: dict[tuple[str, int], dict[tuple, int]] = {}
        models: dict[tuple[str, int], set[int]] = {}
        for r in read_rows(
            os.path.join(run_dir, "predictions"),
            ["model_id", "url", "sent_id", "tokens", "tags"],
        ):
            key = (r["url"], r["sent_id"])
            models.setdefault(key, set()).add(r["model_id"])
            toks = r["tokens"]
            cut = toks.index("<EOS>") if "<EOS>" in toks else len(toks)
            sv = votes.setdefault(key, {})
            for span in decode_spans(r["tags"][:cut]):
                sv[span] = sv.get(span, 0) + 1
        want = {
            (key[0], key[1], s, e, lbl)
            for key, sv in votes.items()
            for s, e, lbl in majority_vote(sv, len(models[key]), 0.5)
        }
        got = {
            (r["url"], r["sent_id"], r["start"], r["end"], r["label"])
            for r in read_rows(
                os.path.join(run_dir, "ensembled"),
                ["url", "sent_id", "start", "end", "label"],
            )
        }
        return got == want

    def counts(self, run_dir: str) -> dict[str, float]:
        from kgner.spanops import decode_spans

        spark = self.spark
        postings = spark.read.parquet(os.path.join(run_dir, "postings"))
        n_docs = spark.read.parquet(os.path.join(run_dir, "docs")).count()
        sents = spark.read.parquet(os.path.join(self.base, "sentences"))
        qterms = retrieval_queries(sents).select(
            "query_id", F.explode(F.array_distinct("tokens")).alias("term")
        )
        drop = (
            postings.groupBy("term")
            .count()
            .filter(F.col("count") > n_docs * MAX_DF_RATIO)
            .select("term")
        )
        kept = qterms.join(F.broadcast(drop), "term", "left_anti")
        terms_in, terms_kept = qterms.count(), kept.count()
        join_rows = kept.join(postings, "term").count()
        topk = len(read_rows(os.path.join(run_dir, "topk"), ["query_id"]))
        ctx = read_rows(os.path.join(run_dir, "retrievals"), ["contexts"])
        preds = read_rows(os.path.join(run_dir, "stripped"), ["url", "sent_id", "tags"])
        tagged = read_rows(os.path.join(run_dir, "predictions"), ["tokens"])
        cands = [
            (p["url"], p["sent_id"], *span) for p in preds for span in decode_spans(p["tags"])
        ]
        voted = len(read_rows(os.path.join(run_dir, "ensembled"), ["url"]))
        files, mb = dir_files_mb(run_dir)
        return {
            "kbbuild.kb_sentences_out": spark.read.parquet(
                os.path.join(run_dir, "kb_sentences_traced")
            ).count(),
            "kbbuild.postings_out": postings.count(),
            "retrieval.queries_in": self.n_queries,
            "retrieval.terms_kept_ratio": terms_kept / max(terms_in, 1),
            "retrieval.join_rows": join_rows,
            "retrieval.useful_ratio": topk / max(join_rows, 1),
            "context.contexts_in": topk,
            "context.kept_ratio": sum(len(c["contexts"]) for c in ctx) / max(topk, 1),
            "inference.tokens_in": sum(len(t["tokens"]) for t in tagged),
            "ensemble.spans_in": len(cands),
            "ensemble.kept_ratio": voted / max(len(set(cands)), 1),
            "io.files_written": files,
            "io.mb_written": mb,
        }


# --- corpus_dedup -------------------------------------------------------------------------

QUALITY_MIN = 0.75


def make_documents(n: int, seed: int) -> tuple[list[tuple[int, str]], dict]:
    """Seeded corpus: random-word documents plus planted exact duplicates
    (case and whitespace changed), near duplicates (two words replaced) and
    low-quality junk. Returns (rows, planted)."""
    rng = random.Random(seed)
    vocab = [
        f"{rng.choice('bcdfghklmnprstvz')}{i:x}{rng.choice('aeiou')}"
        for i in range(4000)
    ]
    docs: list[str] = []
    for _ in range(n):
        words = [rng.choice(vocab) for _ in range(rng.randint(60, 120))]
        for j in range(12, len(words), rng.randint(10, 16)):
            words[j] += "."
        docs.append(" ".join(words))
    planted = {"exact": [], "near": [], "junk": []}
    for i in rng.sample(range(n), n // 20):
        planted["exact"].append((i, len(docs)))
        docs.append("  " + docs[i].upper().replace(" ", "   ") + " ")
    for i in rng.sample(range(n), n // 20):
        words = docs[i].split()
        for j in rng.sample(range(len(words)), 2):
            words[j] = rng.choice(vocab)
        planted["near"].append((i, len(docs)))
        docs.append(" ".join(words))
    for _ in range(n // 30):
        planted["junk"].append(len(docs))
        docs.append(" ".join(rng.choice(["!!", "?", "...", ";;"]) for _ in range(3)))
    # doc ids are a seeded shuffle, so duplicates are not always the larger id
    ids = rng.sample(range(10 * len(docs)), len(docs))
    rows = [(ids[i], text) for i, text in enumerate(docs)]
    planted = {
        k: [tuple(ids[i] for i in p) if isinstance(p, tuple) else ids[p] for p in v]
        for k, v in planted.items()
    }
    return rows, planted


class CorpusDedup(Workload):
    """Quality and language features, then exact, MinHash-LSH, SimHash and
    n-gram-Jaccard dedup and the keep-min survivor rule."""

    name = "corpus_dedup"

    def setup(self) -> None:
        rows, self.planted = make_documents(60 if self.smoke else 600, self.seed)
        self.texts = dict(rows)
        self.generate("documents", [{"doc_id": i, "text": t} for i, t in rows])

    def run(self, run_dir: str, tracer=None) -> RunOutput:
        from kgner import io
        from kgner.operators.dedup import (
            dedup_keep_min,
            exact_dedup,
            minhash_lsh_pairs,
            ngram_jaccard_pairs,
            simhash_near_pairs,
        )
        from kgner.operators.textquality import lang_id_features, quality_features

        spark = self.spark

        def read(name):
            return io.read_table(spark, run_dir, name)

        def write(name, df):
            io.write_table(df, run_dir, name)

        with _span(tracer, "textquality"):
            feats = lang_id_features(quality_features(self.table("documents")))
            write(
                "doc_quality",
                feats.select("doc_id", "text", "quality_score", "lang_guess"),
            )
        kept = read("doc_quality").filter(F.col("quality_score") >= QUALITY_MIN)
        with _span(tracer, "dedup.exact"):
            write("exact_groups", exact_dedup(kept))
        survivors = kept.join(
            read("exact_groups").select(F.col("keep_id").alias("doc_id")),
            "doc_id",
            "left_semi",
        )
        near = (
            ("dedup.minhash", "pairs_minhash", partial(minhash_lsh_pairs, threshold=0.8)),
            ("dedup.simhash", "pairs_simhash", partial(simhash_near_pairs, max_hamming=3)),
            ("dedup.ngram_jaccard", "pairs_ngram", partial(ngram_jaccard_pairs, threshold=0.8)),
        )
        for span, table, find in near:
            with _span(tracer, span):
                write(table, find(survivors).select("doc_a", "doc_b"))
        pairs = (
            read("pairs_minhash")
            .unionByName(read("pairs_simhash"))
            .unionByName(read("pairs_ngram"))
            .distinct()
        )
        with _span(tracer, "dedup.keep_min"):
            write("survivors", dedup_keep_min(survivors, pairs).select("doc_id"))
        return RunOutput(items=len(self.texts))

    def _tables(self, run_dir: str):
        quality = {
            r["doc_id"]: r["quality_score"]
            for r in read_rows(os.path.join(run_dir, "doc_quality"), ["doc_id", "quality_score"])
        }
        pairs = {
            name: {
                (r["doc_a"], r["doc_b"])
                for r in read_rows(os.path.join(run_dir, name), ["doc_a", "doc_b"])
            }
            for name in ("pairs_minhash", "pairs_simhash", "pairs_ngram")
        }
        survivors = {
            r["doc_id"] for r in read_rows(os.path.join(run_dir, "survivors"), ["doc_id"])
        }
        return quality, pairs, survivors

    def _components(self, kept: list[int], pairs) -> dict[int, int]:
        """doc -> smallest doc id of its duplicate cluster (exact text after
        case/whitespace normalization, plus every found near pair)."""
        parent = {d: d for d in kept}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        first: dict[str, int] = {}
        for d in sorted(kept):
            norm = " ".join(self.texts[d].lower().split())
            union(first.setdefault(norm, d), d)
        for a, b in pairs:
            union(a, b)
        return {d: find(d) for d in kept}

    def check(self, run_dir: str) -> bool:
        quality, pairs, survivors = self._tables(run_dir)
        kept = [d for d, q in quality.items() if q >= QUALITY_MIN]
        comp = self._components(kept, set().union(*pairs.values()))
        planted_found = all(
            a in comp and b in comp and comp[a] == comp[b]
            for a, b in self.planted["exact"] + self.planted["near"]
        )
        junk_dropped = not any(j in comp for j in self.planted["junk"])
        return (
            planted_found
            and junk_dropped
            and len(quality) == len(self.texts)
            and survivors == {d for d, root in comp.items() if d == root}
        )

    def counts(self, run_dir: str) -> dict[str, float]:
        quality, pairs, survivors = self._tables(run_dir)
        kept = [d for d, q in quality.items() if q >= QUALITY_MIN]
        comp = self._components(kept, set().union(*pairs.values()))
        planted = self.planted["exact"] + self.planted["near"]
        found = sum(
            1 for a, b in planted if a in comp and b in comp and comp[a] == comp[b]
        )
        files, mb = dir_files_mb(run_dir)
        return {
            "textquality.kept_ratio": len(kept) / max(len(quality), 1),
            "dedup.pairs_out": len(set().union(*pairs.values())),
            "dedup.planted_recall": found / max(len(planted), 1),
            "io.files_written": files,
            "io.mb_written": mb,
        }


WORKLOADS = {
    w.name: w for w in (CrawlTriples, RetrievalNer, HotDomainSkew, CorpusDedup)
}
