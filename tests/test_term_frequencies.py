"""Term counts of the BM25 postings against an independent oracle.

`kbbuild.term_frequencies` counts each token inside its own row (sort, then
measure the runs of equal tokens). These tests compare it, and the postings
`kb_index` builds with it, to `collections.Counter` over tokens produced by
the pure-Python analyzers in `kgner.textops` — no Spark aggregate and no
`kb_index` on the expected side.
"""

import random
import re
from collections import Counter

from pyspark.sql import functions as F

from kgner.operators.kbbuild import kb_index, kb_sentences, term_frequencies
from kgner.textops import split_keyword_cjk, split_keyword_cjk_dict_max


def _key(row):
    # rows may hold None terms; order them without comparing None to str
    return tuple((v is None, "" if v is None else v) for v in row)


def _counted(rows):
    """(id, tokens) rows -> sorted (id, term, tf) rows by Counter."""
    out = [
        (i, term, n)
        for i, toks in rows
        for term, n in Counter(toks or []).items()
    ]
    return sorted(out, key=_key)


def test_term_frequencies_matches_counter(spark):
    cases = [
        [],  # empty array: no rows
        None,  # null array: no rows
        ["", "", "a"],  # empty-string tokens are terms
        ["x"],  # one token
        ["b", "b", "b", "b"],  # all equal: one run
        ["z", "a", "m", "a", "z"],  # repeats at both ends
        ["z", "q", "z"],
        ["中", "文", "中", "中"],  # CJK single-char tokens
        ["A", "a", "A", "Ab", "aB"],  # differ only in case: distinct terms
        ["a", None, "a", None],  # null tokens count as one term
    ]
    rng = random.Random(11)
    vocab = ["", "a", "A", "b", "ab", "中", "文", "the", "The"]
    cases += [
        [rng.choice(vocab) for _ in range(rng.randint(0, 12))] for _ in range(150)
    ]
    rows = list(enumerate(cases))
    df = spark.createDataFrame(rows, "id long, toks array<string>")
    out = term_frequencies(df, F.col("toks"), ["id"])
    assert out.columns == ["id", "term", "tf"]
    assert dict(out.dtypes)["tf"] == "int"
    got = sorted((tuple(r) for r in out.collect()), key=_key)
    assert got == _counted(rows)


def test_term_frequencies_names_and_keys(spark):
    df = spark.createDataFrame(
        [(7, "en", ["b", "a", "b"])], "doc_id long, lang string, t array<string>"
    )
    out = term_frequencies(df, F.col("t"), ["doc_id", "lang"], tf="n")
    assert out.columns == ["doc_id", "lang", "term", "n"]
    assert sorted(map(tuple, out.collect())) == [(7, "en", "a", 1), (7, "en", "b", 2)]


LEX = ["北京", "京剧", "大学", "哈哈"]
EXTRA = [
    # (title, p_id, s_id, sentence, lang)
    ("Rep", 0, 0, "the cat and The CAT and the dog", "en"),
    ("Rep", 0, 1, "a  a\ta b a", "de"),
    ("Rep", 1, 0, "", "en"),
    ("Zh", 0, 0, "北京大学 北京 hello 北京大学", "zh"),
    ("Zh", 0, 1, "南北京剧团 南北京剧团", "zh"),
    ("Zh", 0, 2, "哈哈哈 哈哈哈哈", "zh"),
    ("Ja", 0, 0, "東京 東京 tokyo", "ja"),
    ("Und", 0, 0, "x y x", None),
]


def _whitespace(s):
    # tokens_col: split(trim(s), '\s+') with Spark's space-only trim and the
    # ASCII \s of java.util.regex
    return re.split(r"[ \t\n\x0b\f\r]+", s.strip(" "))


def _analyzer(mode):
    def tok(sentence, lang):
        s = sentence.lower()
        if mode == "default":
            return _whitespace(s)
        if mode == "max_word" and lang == "zh":
            return split_keyword_cjk_dict_max(s, LEX)
        if lang in ("zh", "ja", "ko"):
            return split_keyword_cjk(s)
        return _whitespace(s)

    return tok


def test_kb_index_postings_match_counter(spark, tables):
    """kb_index postings equal a Counter over each kb_sentences row's tokens
    in the default, per-language and ik_max_word (overlapping tokens, so
    tf > 1 from one word) analyzer modes; the schema is unchanged."""
    cols = ["title", "p_id", "s_id", "sentence", "paragraph", "url", "lang"]
    extra = spark.createDataFrame(
        [(t, p, s, text, text, "u", lang) for t, p, s, text, lang in EXTRA],
        "title string, p_id int, s_id int, sentence string, paragraph string,"
        " url string, lang string",
    )
    sents = kb_sentences(tables["kb_pages"]).select(*cols).unionByName(extra)
    sents = sents.localCheckpoint()
    rows = sents.select(
        F.xxhash64("title", "p_id", "s_id").alias("doc_id"),
        F.coalesce("lang", F.lit("und")).alias("out_lang"),
        "sentence",
        "lang",
    ).collect()
    modes = {
        "default": {},
        "per_lang": {"per_lang_analyzer": True},
        "max_word": {
            "per_lang_analyzer": True,
            "zh_lexicon": LEX,
            "zh_dict_mode": "max_word",
        },
    }
    for mode, kwargs in modes.items():
        tok = _analyzer(mode)
        want = sorted(
            (
                (term, r["doc_id"], r["out_lang"], n)
                for r in rows
                for term, n in Counter(tok(r["sentence"], r["lang"])).items()
            ),
            key=_key,
        )
        postings, _ = kb_index(sents, **kwargs)
        assert postings.dtypes == [
            ("term", "string"),
            ("doc_id", "bigint"),
            ("lang", "string"),
            ("tf", "int"),
        ], mode
        got = sorted((tuple(r) for r in postings.collect()), key=_key)
        assert got == want, mode
        assert max(r[3] for r in got) > 1, mode
    # ik_max_word: 北京 as a word in 北京大学 twice and on its own once
    assert any(t == "北京" and n == 3 for t, _, _, n in got)
