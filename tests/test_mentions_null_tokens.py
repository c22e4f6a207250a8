"""A sentence whose token array is null (e.g. `split` over a null text)
matches no alias, exactly like an empty one — the mention scan must not
fail on it."""


def test_null_and_empty_tokens_yield_no_mentions(spark):
    from kgner.operators.mentions import detect_mentions

    sents = spark.createDataFrame(
        [
            ("u-null", 0, None),
            ("u-empty", 0, []),
            ("u-hit", 3, ["we", "met", "ada", "lovelace", "today"]),
        ],
        "url string, sent_id int, tokens array<string>",
    )
    aliases = spark.createDataFrame(
        [("ada lovelace", "Ada_Lovelace")],
        "alias_norm string, canonical_id string",
    )
    got = [tuple(r) for r in detect_mentions(spark, sents, aliases).collect()]
    assert got == [("u-hit", 3, 2, 4, "ada lovelace", "Ada_Lovelace")]
