"""Staged, checkpoint-resumable KG-construction DAG (north-rule shape).

Each stage reads committed upstream tables, writes its own table under the
workdir, and records lineage. A stage whose output is already committed
(_SUCCESS marker — the parquet stand-in for an Iceberg snapshot) is SKIPPED
on resume, so a killed run re-executes only the missing suffix of the DAG.

Stage graph:

    pages ──extract──> extracted ──sentences──> sentences ─┐
    kb_pages ──kb──> kb_sentences                          ├─ mentions ──> triples
    redirects ──canon──> canonical (alias_norm->entity)  ──┘
    kb_sentences ──index──> postings, docs ──> retrievals, retrievals2 (optional)
    model_predictions ──ensemble──> ensembled (optional input)

The index stage commits the BM25 index once per run; both retrieval rounds
read the committed tables, so the term explode + groupBy runs once.

Run via  spark-submit --py-files kgner.zip -m kgner.run  (kgner/run.py).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgner import io
from kgner.lineage import LineageLog

# the committed BM25 index: one table per kb_index output
INDEX_TABLES = ("postings", "docs")


@dataclass
class PipelineConfig:
    workdir: str
    salt_buckets: int = 0  # >0: salted repartition on domain hash (skew guard)
    # adaptive salting: when set, the extract stage measures the hottest
    # domain's share of rows first (one url-column scan, map-side-combined
    # to #domains rows) and salts ONLY if it exceeds this share — a
    # balanced corpus skips the extra repartition shuffle entirely. None =
    # salt_buckets alone decides (always-on when > 0). salt_probe_fraction
    # bounds the probe's read at web scale (Bernoulli sample of the url
    # column; shares are ratios, so sampling leaves them unbiased).
    salt_threshold: float | None = None
    salt_probe_fraction: float = 1.0
    max_text_chars: int | None = None  # giant-page cap (oracle-symmetric)
    resume: bool = True
    # retrieval knobs (both rounds):
    # lang_scoped=True = the reference's one-ES-index-per-language routing
    # (df/avg_len language-local, queries never match other languages);
    # False = the "mix" wildcard-union mode. max_df_ratio drops query terms
    # with df > ratio*n_docs BEFORE the postings join — at web scale the
    # stopword cutoff bounds the retrieval shuffle (retrieval.py:67).
    retrieval_lang_scoped: bool = False
    max_df_ratio: float | None = None
    # per-language index ANALYZERS (not just routing): zh/ja/ko KB docs and
    # queries tokenize char-level for han runs (the spliteKeyWord / ik
    # stand-in, kb/build_kb.py:17-22) so the query token stream matches the
    # index's, as the ES analyzer guarantees server-side.
    # DELIBERATE DEVIATION from the reference: build_kb.py gives only zh the
    # ik analyzer (ja/ko fall through to ES "standard"), but han-range
    # characters in ja text and the absence of a standard-analyzer stand-in
    # make char-level the better default here for all three CJK langs; set
    # kgner.functions.text.CJK_ANALYZER_LANGS = ("zh",) for strict parity.
    per_lang_analyzer: bool = False
    # dictionary for zh FMM segmentation (the ik_max_word stand-in upgrade,
    # kb/build_kb.py:17-22): when set (and per_lang_analyzer=True), zh KB
    # docs AND zh queries segment han runs against this lexicon instead of
    # char-level. None keeps char-level zh.
    zh_lexicon: list[str] | None = None
    # ik flavor for the zh INDEX side: "smart" (one FMM segmentation) or
    # "max_word" (every word occurrence + every char, the reference's
    # index-side analyzer). Queries always use ik_smart (FMM) — the
    # standard ES max_word-index/smart-query pairing.
    zh_dict_mode: str = "smart"
    stages: list[str] = field(
        default_factory=lambda: [
            "extracted",
            "sentences",
            "kb_sentences",
            "canonical",
            "mentions",
            "triples",
        ]
    )

    def __post_init__(self):
        if self.zh_lexicon and not self.per_lang_analyzer:
            # the lexicon only takes effect through the per-language
            # analyzer branch on BOTH the index and query sides — a config
            # that sets one without the other would silently whitespace-
            # tokenize zh and ignore the dictionary the user provided
            raise ValueError(
                "zh_lexicon requires per_lang_analyzer=True (the dictionary "
                "analyzer is a per-language analyzer)"
            )
        if self.zh_dict_mode not in ("smart", "max_word"):
            raise ValueError(
                f"zh_dict_mode must be smart|max_word, got {self.zh_dict_mode}"
            )
        if self.zh_dict_mode != "smart" and not self.zh_lexicon:
            # a non-default ik flavor without a dictionary would silently
            # index char-level — same misconfiguration class as above
            raise ValueError("zh_dict_mode='max_word' requires zh_lexicon")


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        cfg: PipelineConfig,
        pages: DataFrame,
        kb_pages: DataFrame,
        redirects: DataFrame,
        model_predictions: DataFrame | None = None,
    ):
        self.spark = spark
        self.cfg = cfg
        self.inputs = {
            "pages": pages,
            "kb_pages": kb_pages,
            "redirects": redirects,
            "model_predictions": model_predictions,
        }
        self.lineage = LineageLog(cfg.workdir)
        self.skipped: list[str] = []
        self.ran: list[str] = []
        # None until the extract stage actually evaluates the salt decision
        # (stage skipped on resume / salt_buckets == 0 leaves it None)
        self.salt_engaged: bool | None = None
        self.salt_share: float | None = None  # measured hot-domain share
        # (postings, docs) readers once stage_index has built or reused the
        # committed index; both rounds share them
        self._index: tuple[DataFrame, DataFrame] | None = None

    # -- stage helpers ------------------------------------------------------
    def _done(self, name: str) -> bool:
        return self.cfg.resume and io.is_committed(self.cfg.workdir, name)

    def _read(self, name: str) -> DataFrame:
        return io.read_table(self.spark, self.cfg.workdir, name)

    def _write(
        self, name: str, df: DataFrame, partition_by=None, inputs: tuple = (),
        extras: dict | None = None,
    ) -> None:
        self.lineage.observed_write(
            name,
            df,
            lambda d: io.write_table(d, self.cfg.workdir, name, partition_by),
            inputs=inputs,
            table_dir=io.table_path(self.cfg.workdir, name),
            extras=extras,
        )
        self.ran.append(name)

    # -- stages ---------------------------------------------------------------
    def stage_extracted(self) -> None:
        if self._done("extracted"):
            self.skipped.append("extracted")
            return
        from kgner.functions.text import make_extract_text_udf

        extract_text_udf = make_extract_text_udf(self.cfg.max_text_chars)
        pages = self.inputs["pages"]
        if self.cfg.salt_buckets > 0 and self._should_salt(pages):
            # salted repartition on domain hash: hot domains spread over
            # salt_buckets partitions (north_rule explicit skew handling)
            domain = F.parse_url(F.col("url"), F.lit("HOST"))
            salt = (F.rand(seed=42) * self.cfg.salt_buckets).cast("int")
            pages = pages.repartition(F.xxhash64(domain), salt)
        out = pages.select(
            "url",
            "warc_ts",
            "lang",
            extract_text_udf(F.col("html")).alias("text"),
        )
        # partition by ingest day (the parquet stand-in for Iceberg
        # days(warc_ts) partition transform)
        out = out.withColumn("warc_day", F.to_date("warc_ts"))
        self._write(
            "extracted",
            out,
            partition_by=["warc_day"],
            inputs=("pages",),
            # the salt decision + measured hot-domain share persist in the
            # stage's lineage record, so consumers can see which plan ran
            extras={
                "salt_engaged": self.salt_engaged,
                "hot_domain_share": self.salt_share,
            },
        )

    def _should_salt(self, pages: DataFrame) -> bool:
        """Adaptive-salt probe: salt only when the hottest domain actually
        holds more than cfg.salt_threshold of the rows. The probe is one
        column-pruned pass over url (map-side combine collapses to
        #domains rows before the tiny shuffle; salt_probe_fraction
        Bernoulli-samples that pass at web scale — the SHARE is a ratio,
        unbiased under sampling). salt_threshold=None preserves the
        static always-salt behavior. The decision and the measured
        hot-domain share are persisted in the extracted stage's lineage
        record (extras.salt_engaged / extras.hot_domain_share); both stay
        None when the stage is skipped on resume."""
        if self.cfg.salt_threshold is None:
            self.salt_engaged = True
            return True
        probe = pages.select(F.parse_url(F.col("url"), F.lit("HOST")).alias("d"))
        if self.cfg.salt_probe_fraction < 1.0:
            probe = probe.sample(fraction=self.cfg.salt_probe_fraction, seed=7)
        row = (
            probe.groupBy("d")
            .count()
            .agg(F.max("count").alias("mx"), F.sum("count").alias("tot"))
            .first()
        )
        share = (row["mx"] or 0) / max(row["tot"] or 0, 1)
        self.salt_share = share
        self.salt_engaged = share > self.cfg.salt_threshold
        return self.salt_engaged

    def stage_sentences(self) -> None:
        if self._done("sentences"):
            self.skipped.append("sentences")
            return
        from kgner.functions.text import with_sentences

        self._write(
            "sentences",
            with_sentences(self._read("extracted")),
            inputs=("extracted",),
        )

    def stage_kb(self) -> None:
        if self._done("kb_sentences"):
            self.skipped.append("kb_sentences")
            return
        from kgner.operators.kbbuild import kb_sentences

        self._write(
            "kb_sentences",
            kb_sentences(self.inputs["kb_pages"]),
            inputs=("kb_pages",),
        )

    def stage_canonical(self) -> None:
        if self._done("canonical"):
            self.skipped.append("canonical")
            return
        from kgner.operators.canonicalize import canonical_map
        from kgner.operators.kbbuild import alias_edges

        edges = alias_edges(self.inputs["kb_pages"], self.inputs["redirects"])
        self._write(
            "canonical",
            canonical_map(edges, self.inputs["kb_pages"].select("title")),
            inputs=("kb_pages", "redirects"),
        )

    def stage_mentions(self) -> None:
        if self._done("mentions"):
            self.skipped.append("mentions")
            return
        from kgner.operators.mentions import detect_mentions

        self._write(
            "mentions",
            detect_mentions(
                self.spark, self._read("sentences"), self._read("canonical")
            ),
            inputs=("sentences", "canonical"),
        )

    def _index_config(self) -> dict:
        """The analyzer settings the index is built with. Stored in the
        postings/docs lineage extras: a committed index whose extras differ
        from these is rebuilt, never read."""
        lex = self.cfg.zh_lexicon
        return {
            "per_lang_analyzer": self.cfg.per_lang_analyzer,
            "zh_dict_mode": self.cfg.zh_dict_mode,
            "zh_lexicon_sha256": hashlib.sha256(
                "\n".join(lex).encode("utf-8")
            ).hexdigest() if lex else None,
        }

    def stage_index(self) -> None:
        """BM25 index over kb_sentences, committed as two tables (postings,
        docs) that both retrieval rounds read — the reference's one ES index
        built by kb/build_kb.py and queried by every round. Runs at most
        once per Pipeline: the first retrieval stage calls it, a later one
        finds it done without counting a resume skip. An index committed by
        an earlier run is reused (a resume skip) only if its lineage extras
        match _index_config(); otherwise it is rebuilt."""
        if self._index is not None:
            return
        extras = self._index_config()
        if all(
            self._done(t) and (self.lineage.read(t) or {}).get("extras") == extras
            for t in INDEX_TABLES
        ):
            self.skipped.extend(INDEX_TABLES)
        else:
            from kgner.operators.kbbuild import kb_index

            tables = kb_index(
                self._read("kb_sentences"),
                per_lang_analyzer=self.cfg.per_lang_analyzer,
                zh_lexicon=self.cfg.zh_lexicon,
                zh_dict_mode=self.cfg.zh_dict_mode,
            )
            for name, df in zip(INDEX_TABLES, tables):
                self._write(name, df, inputs=("kb_sentences",), extras=extras)
        self._index = tuple(self._read(t) for t in INDEX_TABLES)

    def _retrieval_inputs(self, *query_cols: str):
        """Shared setup for both retrieval rounds: (queries, postings, docs).
        postings and docs read the committed index (built here on first
        use), so no round re-derives it. queries is (query_id, [lang,]
        tokens, *query_cols): one projection of the sentences table."""
        self.stage_index()
        sents = self._read("sentences")
        # same NULL-lang sentinel as kb_index (shared UND_LANG constant):
        # un-identified sentences query the unknown-language index rather
        # than silently matching nothing
        from kgner.functions.text import UND_LANG

        lang_cols = (
            [F.coalesce(F.col("lang"), F.lit(UND_LANG)).alias("lang")]
            if self.cfg.retrieval_lang_scoped
            else []
        )
        if self.cfg.per_lang_analyzer:
            # query tokens must come from the SAME analyzer as the index —
            # ES applies the index analyzer to the query server-side; here
            # the token stream is the contract
            from kgner.functions.text import (
                CJK_ANALYZER_LANGS,
                tokens_col_cjk,
                tokens_col_cjk_dict,
            )

            qtok = F.when(
                F.col("lang").isin(*CJK_ANALYZER_LANGS),
                tokens_col_cjk(F.col("sentence")),
            ).otherwise(F.col("tokens"))
            if self.cfg.zh_lexicon:
                # zh queries segment with the SAME dictionary as the index;
                # NULL-mask non-zh rows so a large-lexicon Arrow UDF never
                # pays Python cost for rows whose branch discards it
                masked = F.when(F.col("lang") == "zh", F.col("sentence"))
                qtok = F.when(
                    F.col("lang") == "zh",
                    tokens_col_cjk_dict(masked, self.cfg.zh_lexicon),
                ).otherwise(qtok)
        else:
            qtok = F.col("tokens")
        queries = sents.select(
            F.xxhash64("url", "sent_id").alias("query_id"),
            *lang_cols,
            F.transform(qtok, lambda t: F.lower(t)).alias("tokens"),
            *query_cols,
        )
        return (queries, *self._index)

    def _bm25_kwargs(self) -> dict:
        """Retrieval knobs shared by both rounds: per-language index scoping
        and the web-scale stopword cutoff (see PipelineConfig)."""
        return {
            "lang_col": "lang" if self.cfg.retrieval_lang_scoped else None,
            "max_df_ratio": self.cfg.max_df_ratio,
        }

    def stage_retrievals(self) -> None:
        """Optional retrieval + context assembly (SURVEY §3.2): sentence
        queries against the KB postings, 510-subtoken context budget."""
        if self._done("retrievals"):
            self.skipped.append("retrievals")
            return
        from kgner.operators.context import assemble_context
        from kgner.operators.retrieval import bm25_topk

        # the query text rides in the query projection: no queries ⋈
        # sentences shuffle join to get it back for context assembly
        queries, postings, docs = self._retrieval_inputs("sentence")
        retr = bm25_topk(queries, postings, docs, k=10, **self._bm25_kwargs())
        aug = assemble_context(
            queries.select("query_id", "sentence"),
            retr.select("query_id", "rank", "sentence"),
            budget=510,
        )
        self._write("retrievals", aug, inputs=("sentences", *INDEX_TABLES))

    def stage_retrievals2(self) -> None:
        """Optional second retrieval round (SURVEY §3.3 / README.md:83-88):
        stage-1 mentions become per-sentence entity boosts for an
        entity-boosted re-retrieval — the reference's --with_entity pass."""
        if self._done("retrievals2"):
            self.skipped.append("retrievals2")
            return
        from kgner.operators.retrieval import bm25_topk

        queries, postings, docs = self._retrieval_inputs()
        boosts = self._read("mentions").select(
            F.xxhash64("url", "sent_id").alias("query_id"),
            F.col("entity_id").alias("entity"),
        ).distinct()
        self._write(
            "retrievals2",
            bm25_topk(
                queries,
                postings,
                docs,
                k=10,
                boost_entities=boosts,
                **self._bm25_kwargs(),
            ),
            inputs=("sentences", *INDEX_TABLES, "mentions"),
        )

    def stage_ensemble(self) -> None:
        """Optional: majority-vote ensembling of external model predictions
        (SURVEY §3.3) — runs only when model_predictions input is given."""
        if self.inputs["model_predictions"] is None:
            return
        if self._done("ensembled"):
            self.skipped.append("ensembled")
            return
        from kgner.operators.ensemble import ensemble_votes, strip_context_tags

        preds = self.inputs["model_predictions"]
        has_tok = "tokens" in preds.columns
        has_gold = "gold_tags" in preds.columns
        if has_tok or has_gold:
            # predictions over AUGMENTED sentences (the retrievals stage's
            # `<EOS>`-joined output) carry the model's token stream and/or
            # gold S-X filler — truncate every stream at the first <EOS> /
            # S-X BEFORE voting (ensemble_prediction.py:356-361: either
            # condition alone fires), so spans the model hallucinated
            # inside the retrieved-context region can never reach the graph
            preds = strip_context_tags(
                preds,
                tokens_col="tokens" if has_tok else None,
                strip_cols=("tags",),
                gold_col="gold_tags" if has_gold else None,
            )
        self._write(
            "ensembled",
            ensemble_votes(preds.select("model_id", "url", "sent_id", "tags")),
            inputs=("model_predictions",),
        )

    def stage_triples(self) -> None:
        if self._done("triples"):
            self.skipped.append("triples")
            return
        from kgner.operators.triples import all_triples

        out = all_triples(
            self._read("mentions"),
            self._read("kb_sentences"),
            self._read("canonical"),
        )
        # bucket(subj) partition-transform stand-in (SURVEY §7.1): downstream
        # graph queries co-locate by subject
        out = out.withColumn(
            "subj_bucket", F.pmod(F.xxhash64("subj"), F.lit(16)).cast("int")
        )
        self._write(
            "triples",
            out,
            partition_by=["subj_bucket"],
            inputs=("mentions", "kb_sentences", "canonical"),
        )

    def run(self) -> DataFrame:
        """Run the configured stages in dependency order.

        cfg.stages selects WHICH stages run ("index", "retrievals",
        "retrievals2" and "ensembled" are the optional ones; the default list
        is the core path). One dependency is added automatically: the
        retrieval stages build the index (postings, docs) when it is not
        committed or was built with another analyzer config. No other is:
        selecting a stage whose upstream table is neither selected nor
        already committed fails at read time — intentional, so a resume
        never silently recomputes an upstream with different inputs.
        """
        order = [
            ("extracted", self.stage_extracted),
            ("sentences", self.stage_sentences),
            ("kb_sentences", self.stage_kb),
            ("index", self.stage_index),
            ("canonical", self.stage_canonical),
            ("mentions", self.stage_mentions),
            ("retrievals", self.stage_retrievals),
            ("retrievals2", self.stage_retrievals2),
            ("ensembled", self.stage_ensemble),
            ("triples", self.stage_triples),
        ]
        selected = set(self.cfg.stages) | {"ensembled"}  # ensemble self-gates
        for name, fn in order:
            if name in selected:
                fn()
        if "triples" in selected or io.is_committed(self.cfg.workdir, "triples"):
            return self._read("triples")
        return None
