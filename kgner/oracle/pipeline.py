"""Oracle pipeline: fixtures -> triples, single-node, no Spark.

Stage-for-stage mirror of kgner.pipeline (extract -> sentences -> mention
match -> link -> canonicalize -> triples), built on the SAME pure functions
(kgner.textops/spanops/linkops) so any Spark/oracle divergence isolates a
distribution bug, not a semantics bug.
"""

from __future__ import annotations

from kgner.fixtures import Fixtures
from kgner.linkops import (
    build_alias_index,
    canonical_aliases,
    connected_components,
    match_aliases,
)
from kgner.spanops import decode_spans, majority_vote
from kgner.textops import extract_text, split_sentences, tokenize


def build_canonical_map(fx_kb_pages: list[dict], redirects: list[dict]) -> dict[str, str]:
    """alias/title (lower) -> canonical entity id via CC over redirect edges
    plus title self-loops; representatives by linkops.canonical_aliases (the
    component's smallest KB title, else its smallest member; lower-case
    collisions take the smallest canonical id)."""
    titles = {p["title"] for p in fx_kb_pages}
    edges = [(r["alias_title"], r["canonical_title"]) for r in redirects]
    edges += [(t, t) for t in titles]
    return canonical_aliases(connected_components(edges), titles)


def oracle_triples(fx: Fixtures) -> set[tuple[str, str, str]]:
    """Full oracle: pages+kb -> {(subj, pred, obj)} set."""
    canon_map = build_canonical_map(fx.kb_pages, fx.redirects)
    alias_pairs = [(alias, canon) for alias, canon in canon_map.items()]
    alias_idx, max_len = build_alias_index(alias_pairs)

    triples: set[tuple[str, str, str]] = set()

    # links_to from KB anchors (out-of-range anchors clamped away, mirrors
    # the offset clamp in /root/reference/kb/parse_text.py:64-68)
    for page in fx.kb_pages:
        subj = canon_map.get(page["title"].lower(), page["title"])
        for para in page["paragraphs"]:
            tlen = len(para["text"])
            for a in para["anchors"]:
                if a["start"] >= tlen:
                    continue
                obj = canon_map.get(a["target_title"].lower(), a["target_title"])
                triples.add((subj, "links_to", obj))

    # mentions + co_occurs_with from web pages
    for page in fx.pages:
        text = extract_text(page["html"])
        assert text == page["text"], f"extraction drift for {page['url']}"
        page_ents: set[str] = set()
        for sent in split_sentences(text, page["lang"]):
            toks = tokenize(sent)
            ents = {canon for _, _, canon in match_aliases(toks, alias_idx, max_len)}
            page_ents |= ents
            es = sorted(ents)
            for i in range(len(es)):
                for j in range(i + 1, len(es)):
                    triples.add((es[i], "co_occurs_with", es[j]))
        for e in sorted(page_ents):
            triples.add((page["url"], "mentions", e))
    return triples


def oracle_ensemble(
    fx: Fixtures, threshold_ratio: float = 0.5
) -> dict[tuple[str, int], list[tuple[int, int, str]]]:
    """Majority-vote ensemble over fx.model_predictions -> spans per sentence
    (mirrors /root/reference/ensemble_prediction.py:348-416)."""
    votes: dict[tuple[str, int], dict[tuple[int, int, str], int]] = {}
    models: dict[tuple[str, int], set[int]] = {}
    for row in fx.model_predictions:
        key = (row["url"], row["sent_id"])
        models.setdefault(key, set()).add(row["model_id"])
        for span in decode_spans(row["tags"]):
            votes.setdefault(key, {})[span] = votes.get(key, {}).get(span, 0) + 1
    return {
        key: majority_vote(sv, len(models[key]), threshold_ratio)
        for key, sv in votes.items()
    }
