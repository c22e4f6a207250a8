"""Pure deterministic text operations — the single source of truth.

These functions are imported BOTH by the distributed pandas-UDF layer
(`kgner.functions`) and by the single-node oracle (`kgner.oracle`).  They are
plain Python/regex with no Spark, locale, or wall-clock dependence so that the
north-rule invariant — byte-identical extracted text per url between the Spark
path and the oracle path — holds by construction and is re-verified by tests.

Reference semantics mirrored here (file:line in /root/reference):
- sentence splitting incl. CJK terminator rule      kb/parse_text.py:17-32,74-79
- zh/mixed-script space normalization               kb/context_process.py:24-33,142-151
- non-printable stripping                           kb/context_process.py:406-410,690-691
- query normalization (lowercase, ws-join)          kb/context_process.py:188-211,305-318
- CJK/latin keyword segmentation                    kb/context_process.py:105-140
- whitespace tokenization                           flair/data.py:411-428
"""

from __future__ import annotations

import hashlib
import re

# --- HTML text extraction -------------------------------------------------
# The reference consumes pre-extracted text (LMDB built by wikipedia2vec);
# our input table carries raw `html:binary` plus `text`.  Extraction must be
# deterministic and byte-stable: a small hand-rolled tag stripper, NOT an
# HTML5 parser, so behavior is pinned by this file alone.

_SCRIPT_STYLE_RE = re.compile(
    r"<(script|style|head|title)\b[^>]*>.*?</\1\s*>", re.IGNORECASE | re.DOTALL
)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
_BLOCK_TAG_RE = re.compile(
    r"</?(p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|section|article|header|"
    r"footer|blockquote|pre)\b[^>]*>",
    re.IGNORECASE,
)
_TAG_RE = re.compile(r"<[^>]+>")
# decode &amp; LAST or '&amp;lt;' would double-unescape to '<' instead of '&lt;'
_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]
_WS_RUN_RE = re.compile(r"[ \t\r\f\v]+")
_NL_RUN_RE = re.compile(r"\n{2,}")


def extract_text(html: bytes | str, max_chars: int | None = None) -> str:
    """Deterministic html -> text. Byte-identical across runs/platforms.

    Block-level tags become newlines, inline tags vanish, a fixed entity set
    is decoded, whitespace runs collapse. No external parser => no version
    drift (north_rule per-row invariant).

    max_chars: giant-page guard — truncate the EXTRACTED text to this many
    chars (applied after extraction so the cut point is content-stable, not
    markup-dependent). The same parameter value must be used on the oracle
    side for the byte-identity invariant to hold, which tests enforce.
    """
    if isinstance(html, (bytes, bytearray)):
        raw = bytes(html).decode("utf-8", errors="replace")
    else:
        raw = html
    raw = _COMMENT_RE.sub(" ", raw)
    raw = _SCRIPT_STYLE_RE.sub(" ", raw)
    raw = _BLOCK_TAG_RE.sub("\n", raw)
    raw = _TAG_RE.sub("", raw)
    for ent, ch in _ENTITIES:
        raw = raw.replace(ent, ch)
    raw = _WS_RUN_RE.sub(" ", raw)
    lines = [ln.strip() for ln in raw.split("\n")]
    out = "\n".join(ln for ln in lines if ln)
    if max_chars is not None and len(out) > max_chars:
        out = out[:max_chars]
    return out


# --- Sentence splitting ---------------------------------------------------
# Mirrors kb/parse_text.py:17-32: regex `.*?[。！？]` for zh, punkt-like
# terminator split otherwise.  We use one deterministic regex family instead
# of NLTK punkt (a model download) — versioned here.

_CJK_SENT_RE = re.compile(r"[^。！？]*[。！？]+|[^。！？]+$")
_LATIN_SENT_RE = re.compile(r"[^.!?\n]*[.!?]+(?:[\"')\]]+)?(?:\s+|$)|[^.!?\n]+(?:\n|$)")


def split_sentences(text: str, lang: str = "en") -> list[str]:
    """Split text into sentences; returns stripped non-empty sentences.

    zh (and other CJK) use the fullwidth-terminator rule from
    kb/parse_text.py:74-79; everything else a latin terminator rule.
    Deterministic: pure regex, no models.
    """
    if not text:
        return []
    sents: list[str] = []
    for paragraph in text.split("\n"):
        paragraph = paragraph.strip()
        if not paragraph:
            continue
        rx = _CJK_SENT_RE if lang in ("zh", "ja", "ko") else _LATIN_SENT_RE
        for m in rx.finditer(paragraph):
            s = m.group(0).strip()
            if s:
                sents.append(s)
    return sents


def split_sentences_with_offsets(text: str, lang: str = "en") -> list[tuple[int, str]]:
    """Like split_sentences but returns (char_offset, sentence) pairs.

    Offsets give the deterministic within-page ordering key used for sent_id
    assignment (FIXTURES.md determinism requirements).
    """
    if not text:
        return []
    out: list[tuple[int, str]] = []
    pos = 0
    for paragraph in text.split("\n"):
        base = pos
        stripped = paragraph.strip()
        if stripped:
            lead = len(paragraph) - len(paragraph.lstrip())
            rx = _CJK_SENT_RE if lang in ("zh", "ja", "ko") else _LATIN_SENT_RE
            for m in rx.finditer(stripped):
                s = m.group(0).strip()
                if s:
                    out.append((base + lead + m.start(), s))
        pos += len(paragraph) + 1
    return out


# --- Tokenization ----------------------------------------------------------

_TOKEN_RE = re.compile(r"\S+")


def tokenize(sentence: str) -> list[str]:
    """Whitespace tokenization (flair/data.py:411-428 use_tokenizer=False)."""
    return _TOKEN_RE.findall(sentence)


# ASCII whitespace SPELLED OUT, not \s: this pattern string is mirrored on
# the JVM (java.util.regex, where \s is ASCII-only) and in DuckDB oracles
# (RE2, \s also ASCII) — Python's Unicode \s would exclude U+3000 etc. from
# the punct class and silently diverge from both. Pinning the ASCII set
# makes all three engines count identically (U+3000 counts as one punct
# subtoken everywhere). RE2's \s lacks \x0b, but strip_nonprintable removes
# control chars before any counting.
_BPE_ISH_RE = re.compile(r"[A-Za-z]+|[0-9]+|[^ \t\n\r\f\x0bA-Za-z0-9]")


def bpe_ish_tokens(text: str) -> list[str]:
    """A BPE-ish regex token count proxy (letters / digits / punct runs)."""
    return _BPE_ISH_RE.findall(text)


def subtoken_len(sentence: str) -> int:
    """Deterministic subtoken-count proxy for the 510-subtoken context budget
    (kb/context_process.py:270-304 uses the XLM-R tokenizer; we pin a
    regex-based proxy — budget is behavioral, not byte-exact, SURVEY §7.3)."""
    return len(_BPE_ISH_RE.findall(sentence))


# --- Normalization ---------------------------------------------------------

_ZH_SPACE_RE = re.compile(r"(?<=[一-鿿　-〿])\s+(?=[一-鿿　-〿])")
_CJK_RUN_RE = re.compile(r"[一-鿿]+|[^一-鿿\s]+")


def normalize_zh_spaces(text: str) -> str:
    """Remove spaces between adjacent CJK chars (kb/context_process.py:24-33)."""
    return _ZH_SPACE_RE.sub("", text)


def strip_nonprintable(text: str) -> str:
    """Drop non-printable chars (kb/context_process.py:406-410), keep \\n."""
    return "".join(c for c in text if c == "\n" or c.isprintable())


def split_keyword_cjk(text: str) -> list[str]:
    """CJK-vs-latin run segmentation (spliteKeyWord,
    kb/context_process.py:105-140): CJK runs become char-level units."""
    out: list[str] = []
    for run in _CJK_RUN_RE.findall(text):
        if re.match(r"[一-鿿]", run):
            out.extend(run)
        else:
            out.append(run)
    return out


def fmm_segment(text: str, lexicon) -> list[str]:
    """Forward-maximum-match dictionary segmentation of a han run — the
    Python mirror of kgner.functions.text.fmm_segment_col (parity-tested);
    the ik_max_word stand-in upgrade over char-level splitting
    (kb/build_kb.py:17-22)."""
    words = {w for w in lexicon if len(w) >= 2}
    max_len = max((len(w) for w in words), default=1)
    out: list[str] = []
    i = 0
    while i < len(text):
        for length in range(min(max_len, len(text) - i), 1, -1):
            if text[i : i + length] in words:
                out.append(text[i : i + length])
                i += length
                break
        else:
            out.append(text[i])
            i += 1
    return out


def split_keyword_cjk_dict(text: str, lexicon) -> list[str]:
    """split_keyword_cjk with dictionary (FMM) segmentation of the CJK runs
    — Python mirror of kgner.functions.text.tokens_col_cjk_dict."""
    out: list[str] = []
    for run in _CJK_RUN_RE.findall(text):
        if re.match(r"[一-鿿]", run):
            out.extend(fmm_segment(run, lexicon))
        else:
            out.append(run)
    return out


def split_keyword_cjk_dict_max(text: str, lexicon) -> list[str]:
    """ik_max_word-semantics mirror of tokens_col_cjk_dict_max: per han run,
    every char plus every (non-overlapping) lexicon word occurrence —
    multi-granularity overlapping token multiset."""
    words = sorted({w for w in lexicon if len(w) >= 2})
    out: list[str] = []
    for run in _CJK_RUN_RE.findall(text):
        if re.match(r"[一-鿿]", run):
            out.extend(run)
            for w in words:
                out.extend([w] * run.count(w))
        else:
            out.append(run)
    return out


# --- Anchor markup ----------------------------------------------------------

def splice_anchors(text: str, anchors: list[dict]) -> str:
    """Insert `<e:Target>mention</e>` markup into paragraph text.

    Mirrors /root/reference/kb/parse_text.py:53-71: anchors are applied in
    descending start order so earlier offsets stay valid; out-of-range
    offsets are clamped (start beyond text dropped, end clamped to len).
    Each anchor: {start, end, mention, target_title}.
    """
    out = text
    for a in sorted(anchors, key=lambda a: -a["start"]):
        s, e = a["start"], min(a["end"], len(text))
        if s < 0 or s >= len(text) or s >= e:
            continue
        out = out[:s] + f"<e:{a['target_title']}>" + out[s:e] + "</e>" + out[e:]
    return out


_ANCHOR_RE = re.compile(r"<e:([^>]*)>(.*?)</e>", re.DOTALL)


def strip_anchors(marked: str) -> tuple[str, list[dict]]:
    """Inverse of splice_anchors: -> (plain text, anchors with offsets into
    the plain text). Used to verify round-trips and to parse marked KB
    paragraphs (the reference's match_origin_paragraph expands offsets over
    this markup, kb/context_process.py:153-184)."""
    plain_parts: list[str] = []
    anchors: list[dict] = []
    pos = 0
    plain_len = 0
    for m in _ANCHOR_RE.finditer(marked):
        before = marked[pos : m.start()]
        plain_parts.append(before)
        plain_len += len(before)
        mention = m.group(2)
        anchors.append(
            {
                "start": plain_len,
                "end": plain_len + len(mention),
                "mention": mention,
                "target_title": m.group(1),
            }
        )
        plain_parts.append(mention)
        plain_len += len(mention)
        pos = m.end()
    plain_parts.append(marked[pos:])
    return "".join(plain_parts), anchors


# --- Fingerprinting --------------------------------------------------------

def stable_hash64(s: str) -> int:
    """Deterministic 64-bit hash (first 8 bytes of md5, big-endian, signed).

    Used for doc fingerprints and minhash seeds; NOT Python's salted hash().
    """
    h = hashlib.md5(s.encode("utf-8")).digest()
    v = int.from_bytes(h[:8], "big", signed=False)
    return v - (1 << 64) if v >= (1 << 63) else v


def shingles(tokens: list[str], n: int = 3) -> list[str]:
    """Word n-gram shingles; returns the distinct, sorted shingle list."""
    if len(tokens) < n:
        return [" ".join(tokens)] if tokens else []
    return sorted({" ".join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)})
