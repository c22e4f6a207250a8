"""Pure span/tag-sequence logic: scheme conversions, span decoding, majority
vote, chunk-F1 counting, and a numpy-batched Viterbi decoder.

Shared by the oracle and the pandas-UDF layer (single implementation, no
drift). Reference semantics mirrored (file:line in /root/reference):

- IOB1->IOB2 / IOB->IOBES / BIOES->BIO conversions   flair/data.py:1122-1164,
                                                     ensemble_prediction.py:330-345
- BIO/BIOES span decoding                            flair/data.py:455-532,
                                                     ensemble_prediction.py:45-117
- majority-vote greedy span selection                ensemble_prediction.py:348-416
- chunk-level precision/recall/F1                    conlleval_perl.py:207-350
- CRF Viterbi max-product decode                     flair/models/sequence_tagger_model.py:1248-1327
"""

from __future__ import annotations

import numpy as np

Span = tuple[int, int, str]  # (start, end_exclusive, label)


# --- Tag-scheme conversions -------------------------------------------------

def _split_tag(tag: str) -> tuple[str, str]:
    if tag == "O" or "-" not in tag:
        return (tag, "")
    p, _, lbl = tag.partition("-")
    return (p, lbl)


def iob1_to_iob2(tags: list[str]) -> list[str]:
    """IOB1 -> IOB2 (flair/data.py:1122-1141): an I- that starts a chunk
    (sentence-initial or after O / different type) becomes B-."""
    out = list(tags)
    for i, tag in enumerate(out):
        p, lbl = _split_tag(tag)
        if p != "I":
            continue
        if i == 0:
            out[i] = "B-" + lbl
        else:
            pp, plbl = _split_tag(out[i - 1])
            if pp == "O" or plbl != lbl:
                out[i] = "B-" + lbl
    return out


def iob_to_iobes(tags: list[str]) -> list[str]:
    """IOB2 -> IOBES (flair/data.py:1144-1164): singletons S-, chunk ends E-."""
    out: list[str] = []
    n = len(tags)
    for i, tag in enumerate(tags):
        p, lbl = _split_tag(tag)
        nxt_p, nxt_lbl = _split_tag(tags[i + 1]) if i + 1 < n else ("O", "")
        continues = nxt_p == "I" and nxt_lbl == lbl
        if p == "B":
            out.append(("B-" if continues else "S-") + lbl)
        elif p == "I":
            out.append(("I-" if continues else "E-") + lbl)
        else:
            out.append("O")
    return out


def bioes_to_bio(tags: list[str]) -> list[str]:
    """BIOES -> BIO (ensemble_prediction.py:330-345): S->B, E->I."""
    out = []
    for tag in tags:
        p, lbl = _split_tag(tag)
        if p == "S":
            out.append("B-" + lbl)
        elif p == "E":
            out.append("I-" + lbl)
        else:
            out.append(tag)
    return out


# --- Span decoding -----------------------------------------------------------

def decode_spans(tags: list[str]) -> list[Span]:
    """Decode BIO or BIOES tags to (start, end_exclusive, label) spans.

    Mirrors flair/data.py:455-532 get_spans semantics: B-/S- open a span,
    type change or O closes it; stray I- after O starts a span (IOB1
    tolerance, as the reference's check_span ensemble_prediction.py:45-117).
    """
    spans: list[Span] = []
    start = -1
    cur = ""
    for i, tag in enumerate(tags):
        p, lbl = _split_tag(tag)
        opens = p in ("B", "S") or (p in ("I", "E") and lbl != cur)
        if start >= 0 and (p == "O" or opens):
            spans.append((start, i, cur))
            start = -1
            cur = ""
        if p in ("B", "S") or (p in ("I", "E") and start < 0):
            start = i
            cur = lbl
        if p in ("S",) and start >= 0:
            spans.append((start, i + 1, cur))
            start = -1
            cur = ""
        elif p == "E" and start >= 0:
            spans.append((start, i + 1, cur))
            start = -1
            cur = ""
    if start >= 0:
        spans.append((start, len(tags), cur))
    return spans


def spans_to_bio(n: int, spans: list[Span]) -> list[str]:
    """Inverse of decode_spans for BIO output (CoNLL writer path)."""
    tags = ["O"] * n
    for s, e, lbl in spans:
        for i in range(s, min(e, n)):
            tags[i] = ("B-" if i == s else "I-") + lbl
    return tags


# --- Majority-vote ensemble ---------------------------------------------------

def majority_vote(
    span_votes: dict[Span, int], n_models: int, threshold_ratio: float = 0.5
) -> list[Span]:
    """Greedy non-overlapping span selection (ensemble_prediction.py:399-416).

    The reference applies two STABLE sorts — by length desc (`:404`), then by
    votes desc (`:405`) — so the effective order is votes desc PRIMARY,
    length desc secondary; we add `start` as a deterministic final tiebreak.
    Accept a span iff votes >= ratio*n_models and it does not overlap an
    already-accepted span.
    """
    thresh = threshold_ratio * n_models
    chosen: list[Span] = []
    cand = sorted(
        span_votes.items(), key=lambda kv: (-kv[1], -(kv[0][1] - kv[0][0]), kv[0][0])
    )
    for (s, e, lbl), votes in cand:
        if votes < thresh:
            continue
        if any(not (e <= cs or s >= ce) for cs, ce, _ in chosen):
            continue
        chosen.append((s, e, lbl))
    return sorted(chosen)


# --- Chunk F1 (conlleval semantics) -------------------------------------------

def f1(tp: int, fp: int, fn: int) -> float:
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    return 2 * p * r / (p + r) if p + r else 0.0


# --- Viterbi (numpy, batched over an Arrow batch) ------------------------------

def viterbi_decode(emissions: np.ndarray, transitions: np.ndarray) -> list[int]:
    """Max-product Viterbi over one sentence.

    emissions: (T, K) log-scores; transitions: (K+2, K+2) with START=K,
    STOP=K+1 rows/cols pinned as in the reference init
    (flair/models/sequence_tagger_model.py:385-401, decode :1248-1327).
    Returns the argmax tag-index path (length T).
    """
    T, K = emissions.shape
    START, STOP = K, K + 1
    trans = transitions[:K, :K]  # from -> to
    score = transitions[START, :K] + emissions[0]
    back: list[np.ndarray] = []
    for t in range(1, T):
        cand = score[:, None] + trans  # (from, to)
        best_from = np.argmax(cand, axis=0)
        score = cand[best_from, np.arange(K)] + emissions[t]
        back.append(best_from)
    score = score + transitions[:K, STOP]
    last = int(np.argmax(score))
    path = [last]
    for bf in reversed(back):
        last = int(bf[last])
        path.append(last)
    path.reverse()
    return path


def forward_backward(
    emissions: np.ndarray, transitions: np.ndarray
) -> np.ndarray:
    """Posterior marginals p(tag_t = k | x) via forward-backward in log space
    (flair/models/sequence_tagger_model.py:1182-1192,1329-1486). Returns
    (T, K) probabilities; rows sum to 1."""
    T, K = emissions.shape
    START, STOP = K, K + 1
    trans = transitions[:K, :K]

    def lse(a, axis):
        m = np.max(a, axis=axis, keepdims=True)
        return (m + np.log(np.sum(np.exp(a - m), axis=axis, keepdims=True))).squeeze(
            axis
        )

    fwd = np.zeros((T, K))
    fwd[0] = transitions[START, :K] + emissions[0]
    for t in range(1, T):
        fwd[t] = emissions[t] + lse(fwd[t - 1][:, None] + trans, axis=0)
    bwd = np.zeros((T, K))
    bwd[T - 1] = transitions[:K, STOP]
    for t in range(T - 2, -1, -1):
        bwd[t] = lse(trans + (emissions[t + 1] + bwd[t + 1])[None, :], axis=1)
    log_post = fwd + bwd
    log_post -= lse(log_post, axis=1)[:, None]
    return np.exp(log_post)


def viterbi_nbest(
    emissions: np.ndarray, transitions: np.ndarray, nbest: int = 2
) -> list[tuple[list[int], float]]:
    """Top-n Viterbi paths with scores, best first.

    Semantics of the reference's _viterbi_decode_nbest
    (flair/models/sequence_tagger_model.py:1660-1778, the NCRFpp top-k DP):
    per (timestep, state) keep the `nbest` highest-scoring path prefixes;
    each step ranks all K*nbest predecessor continuations. Clean-room numpy:
    dp (K, nbest) score matrix + (prev_state, prev_rank) backpointers,
    exhaustive final top-n over (K, nbest) with the STOP transition added.

    Returns up to `nbest` (path, score) tuples — fewer when the sequence
    admits fewer distinct paths (e.g. T=1 with K < nbest states).
    """
    T, K = emissions.shape
    START, STOP = K, K + 1
    trans = transitions[:K, :K]
    NEG = -1e30

    dp = np.full((K, nbest), NEG)
    dp[:, 0] = transitions[START, :K] + emissions[0]
    back: list[np.ndarray] = []  # (K, nbest, 2) per step t>=1
    for t in range(1, T):
        # cand[i, r, j] = dp[i, r] + trans[i, j]  -> flatten (i, r)
        cand = dp[:, :, None] + trans[:, None, :]  # (K, nbest, K)
        flat = cand.reshape(K * nbest, K)
        order = np.argsort(-flat, axis=0, kind="stable")[:nbest]  # (nbest, K)
        bp = np.empty((K, nbest, 2), dtype=np.int64)
        new_dp = np.full((K, nbest), NEG)
        for j in range(K):
            for r in range(nbest):
                src = order[r, j]
                new_dp[j, r] = flat[src, j] + emissions[t, j]
                bp[j, r] = (src // nbest, src % nbest)
        dp = new_dp
        back.append(bp)
    final = dp + transitions[:K, STOP][:, None]  # (K, nbest)
    flat_final = final.reshape(-1)
    order = np.argsort(-flat_final, kind="stable")[:nbest]
    out: list[tuple[list[int], float]] = []
    for src in order:
        score = float(flat_final[src])
        if score <= NEG / 2:
            continue  # padding slot, not a real path
        state, rank = int(src // nbest), int(src % nbest)
        path = [state]
        for bp in reversed(back):
            state, rank = int(bp[state, rank, 0]), int(bp[state, rank, 1])
            path.append(state)
        path.reverse()
        out.append((path, score))
    return out


def posterior_vote_decode(
    emissions_list: list[np.ndarray], transitions_list: list[np.ndarray]
) -> list[int]:
    """Posterior-vote ensemble decode: average the per-model CRF marginals
    (forward_backward) and take the per-token argmax — the marginal-
    distillation/multiview-posterior combination the reference's `posterior`
    configs use (flair/trainers/distillation_trainer.py posterior path;
    ITA/README.md *_multiview_posterior_* configs). Token-independent argmax
    over an ensemble-averaged distribution, NOT a path decode — structural
    constraints, if needed, are re-imposed by the downstream span decoder's
    IOB1 tolerance (decode_spans)."""
    post = np.mean(
        [
            forward_backward(e, t)
            for e, t in zip(emissions_list, transitions_list)
        ],
        axis=0,
    )
    return [int(i) for i in np.argmax(post, axis=1)]
