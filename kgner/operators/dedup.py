"""Document deduplication operators for large-scale training-data pipelines.

Five strategies, all shuffle-conscious:

- exact:      hash-groupBy on a normalized fingerprint (one shuffle).
- ngram_jaccard: shingle -> explode -> self-equi-join on shingle -> group by
  pair -> Jaccard >= t. The join is on the shingle key, so only documents
  sharing a shingle ever meet (no O(n^2)); frequent shingles are the skew
  axis, capped by `max_shingle_df` (drop shingles occurring in more than N
  docs — standard blocking trick, same effect as stopword removal).
- minhash_lsh: k minhash signatures -> band buckets -> candidates = bucket
  join -> verify with exact Jaccard. Scales to corpora where the shingle
  join is too big; bands/rows tune the S-curve.
- simhash:    64-bit simhash; near-dups = equal value on >= 1 of 4 16-bit
  bands (Hamming distance <= 3 heuristic), verified by popcount distance.
- embedding cosine near-dup: see kgner.operators.similarity.

All emit a canonical `keep` decision: the minimum doc_id of the duplicate
cluster survives — deterministic, order-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _norm_text(col):
    return F.lower(F.regexp_replace(F.trim(col), r"\s+", " "))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the min-id doc per exact (normalized) text; adds group stats.

    One map-side-combinable shuffle keyed by the 64-bit fingerprint — at
    100 TB the fingerprint groupBy is the canonical first-pass dedup.
    """
    fp = F.xxhash64(_norm_text(F.col(text_col)))
    return (
        docs.withColumn("fingerprint", fp)
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).cast("int").alias("group_size"),
        )
    )


def _tokens(text_col: str):
    """Column expr: the doc's word tokens, from ONE regex pass (split on \\s+
    after a space-only trim) — the DuckDB oracles replay this exact form,
    including the '' edge tokens that text with leading/trailing non-space
    whitespace produces."""
    return F.split(F.trim(F.lower(F.col(text_col))), r"\s+")


def _shingle_arr(toks, n: int):
    """Column expr: the DISTINCT word-n-gram shingle array of the token
    array column `toks`.

    `toks` must be a projected column, not the split expression itself:
    higher-order-function lambdas run interpreted, so a split captured in
    the lambda would re-tokenize the whole text once per shingle (O(tokens^2)
    per doc). Referenced more than once, the projected split is not inlined
    back by the optimizer."""
    return F.when(
        F.size(toks) < n, F.array(F.concat_ws(" ", toks))
    ).otherwise(
        F.array_distinct(
            F.transform(
                F.slice(toks, 1, F.size(toks) - n + 1),
                lambda _, i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            )
        )
    )


def shingle_arrays(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """-> (doc_id, arr0 array<string>) distinct shingles per doc, one row per
    doc — the compact form consumers cache: re-exploding a cached array
    column is pure row expansion, while caching the exploded rows pays
    per-row overhead on millions of rows (measured ~7 s vs ~1 s for the 5.2M
    shingles of the sf1.0 bench corpus).

    Each doc is tokenized once: the token array is projected as a column and
    the shingles are sliced from it, so the build is linear in tokens."""
    from kgner.operators.partitioning import spread_scan

    # single-file inputs would run the whole explosion on 1-2 cores (§2.5)
    docs = spread_scan(docs, id_col)
    return docs.select(
        F.col(id_col).alias("doc_id"), _tokens(text_col).alias("toks")
    ).select("doc_id", _shingle_arr(F.col("toks"), n).alias("arr0"))


def shingle_df(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """-> (doc_id, shingle) distinct word-n-gram shingles per doc (JVM-side:
    split + transform + explode, no Python)."""
    return shingle_arrays(docs, n, id_col, text_col).select(
        "doc_id", F.explode("arr0").alias("shingle")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_shingles: int | None = None,
) -> DataFrame:
    """-> (doc_a, doc_b, jaccard) pairs with doc_a < doc_b, jaccard >= t.

    max_doc_shingles caps each doc's DISCRIMINATIVE shingle set, bounded
    BEFORE the per-doc collect — the guard that keeps one pathological
    giant document (a 100MB page is ~20M shingles) from blowing the
    collect_list buffer at scale. Retention is BOTTOM-K BY CONTENT HASH
    (md5-64 of the shingle), i.e. a deterministic hash-order sample of the
    doc's set: near-identical sets keep near-identical samples, giving a
    consistent (not unbiased — the rank is relative to each doc's own set)
    Jaccard estimate. (Rarest-first retention would instead keep
    each doc's PRIVATE df=1 shingles and evict the shared evidence,
    silently missing near-identical-but-not-byte-identical giants — the
    feature's motivating case.) Results for docs under the cap are
    unchanged. None = off."""
    # Materialize the per-doc shingle ARRAYS once (one skinny row per doc —
    # the regex tokenize + n-gram string build happens exactly once), then
    # re-derive the exploded view per consumer: exploding a cached array
    # column is pure row expansion, far cheaper than caching the exploded
    # rows themselves (per-row overhead on millions of tiny rows dominated
    # the old checkpoint's cost).
    doc_arr = shingle_arrays(docs, n, id_col, text_col).localCheckpoint(
        eager=False
    )
    sh = doc_arr.select("doc_id", F.explode("arr0").alias("shingle"))
    # blocking: drop shingles too frequent to be discriminative (skew guard).
    # Sizes are computed on the SAME filtered set as the intersection — i.e.
    # Jaccard over the discriminative-shingle space (stopword-removal
    # semantics) — else boilerplate-heavy duplicates would be missed because
    # inter shrinks while na/nb stay full.
    #
    # df is attached with ONE shingle-keyed exchange (count over an
    # unordered window) instead of a groupBy(freq) + join-back, which
    # shuffled the exploded rows twice (guide §2.4 "share one exchange" —
    # measured 7.4 s -> 4.0 s for this stage at sf1.0). A degenerate hot
    # shingle makes one window group large, but WindowExec buffers per
    # GROUP with disk spill (ExternalAppendOnlyUnsafeRowArray) over
    # (doc_id, shingle)-only rows — a 10M-occurrence shingle is ~300 MB
    # spilled in one task, slow but safe, and such shingles are exactly
    # the ones the df filter then drops.
    # PREFIX FILTERING (SSJoin / AllPairs): sort each doc's shingles in ONE
    # global total order (df asc, shingle asc — rarest first) and generate
    # candidates only from each doc's PREFIX of length |d| - ceil(t*|d|) + 1.
    # Lemma: if |a∩b| >= α then the (|a|-α+1)- and (|b|-α+1)-prefixes under
    # a common total order intersect; J >= t implies α >= ceil(t*|d|) for
    # both docs, so these prefixes suffice — candidate generation is EXACT
    # (no recall loss), and every candidate is then verified by a real
    # intersection. At t=0.999 the prefix is a single (rarest) shingle per
    # doc: candidate pairs drop from every-shared-shingle (~4.5M at sf0.1)
    # to shares-the-rarest-shingle (~10k), the dominant cost of the old
    # enumerate-all-pairs plan. Verification joins are keyed on the (few)
    # candidate doc_ids, with the per-doc shingle arrays collected once.
    from pyspark.sql import Window as _W

    ranked = sh.withColumn(
        "df", F.count(F.lit(1)).over(_W.partitionBy("shingle")).cast("long")
    ).filter(F.col("df") <= max_shingle_df)
    if max_doc_shingles is not None:
        # bound per-doc cardinality BEFORE the collect: row_number under a
        # CONTENT-HASH order (md5 hex prefix, shingle tiebreak) — a
        # deterministic hash-order sample per doc (the rank is relative to
        # each doc's own set), replayable in the DuckDB oracle
        # (substr(md5(s),1,16) —
        # both engines emit lowercase hex, and fixed-length hex STRINGS
        # sort exactly like the unsigned value, so no decimal/UBIGINT
        # conversion is needed; decimal ordering keys cost ~2x in hot
        # sorts). The window shuffles/sorts by doc_id — the groupBy below
        # reuses that partitioning, so this adds a sort but not a second
        # shuffle; the md5 only computes when the cap is enabled.
        from pyspark.sql import Window

        hkey = F.substring(F.md5("shingle"), 1, 16)
        w = Window.partitionBy("doc_id").orderBy(hkey, "shingle")
        ranked = (
            ranked.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= max_doc_shingles)
            .drop("__rk")
        )
    doc_sets = (
        ranked
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("df", "shingle"))),
                lambda x: x["shingle"],
            ).alias("arr")
        )
        .withColumn("n_sh", F.size("arr"))
        .localCheckpoint(eager=False)  # reused: prefixes + both verify sides
    )
    # epsilon before ceil: t*n_sh computed in doubles can FP-round just above
    # an exact integer (t=0.55, n=20 -> 11.0000000000000018, ceil=12), which
    # would SHORTEN the prefix and drop a true pair. Subtracting 1e-9 can only
    # lengthen the prefix, preserving the exactness guarantee at negligible
    # extra candidate cost.
    prefix_len = (
        F.col("n_sh")
        - F.ceil(F.lit(float(threshold)) * F.col("n_sh") - F.lit(1e-9))
        + 1
    )
    pfx = doc_sets.select(
        "doc_id", F.explode(F.slice("arr", 1, prefix_len)).alias("shingle")
    )
    grp = (
        pfx.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    ds = F.col("ds")
    pair_arr = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + 2, F.size(ds)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    cands = (
        grp.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )
    a = doc_sets.select(
        F.col("doc_id").alias("doc_a"), F.col("arr").alias("arr_a"),
        F.col("n_sh").alias("na"),
    )
    b = doc_sets.select(
        F.col("doc_id").alias("doc_b"), F.col("arr").alias("arr_b"),
        F.col("n_sh").alias("nb"),
    )
    # cands is id pairs only; deliberately NOT force-broadcast (candidate
    # pair count is unbounded at web scale) — AQE converts these joins to
    # broadcast from runtime stats whenever cands is actually small.
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("arr_a", "arr_b")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 32,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn=None,
    base_fn=None,
    perm_fn=None,
) -> DataFrame:
    """-> (doc_id, sig array<bigint>) minhash signatures.

    Two hash modes:
    - hash_fn(shingle_col, seed) per seed — default xxhash64(shingle, i),
      the fast production hash.
    - base_fn(shingle_col) + perm_fn(h_col, seed): universal-hash family —
      the base hash is materialized ONCE per shingle row and each seed is an
      affine permutation of it (kgner.functions.hashing.stable_base_p61 /
      affine_perm give the md5-derived, SQL-oracle-reproducible family at a
      fraction of per-seed hashing cost).

    signature_i = min over shingles. Entirely JVM-side AND map-only: the
    per-doc shingle array is folded with one aggregate() higher-order
    function whose accumulator is the num_hashes-long vector of running
    mins — no explode, no groupBy, no shuffle at all (the old
    explode+groupBy shape shuffled one row per (doc, shingle)). In the
    (base_fn, perm_fn) mode the base hash is computed ONCE per shingle
    inside a transform(); the fold's lambda then sees the base value as a
    bound variable, so the md5 cannot be re-evaluated per seed.
    """
    if (base_fn is None) != (perm_fn is None):
        raise ValueError("base_fn and perm_fn must be passed together")
    if hash_fn is not None and base_fn is not None:
        raise ValueError("pass either hash_fn OR (base_fn, perm_fn), not both")
    if hash_fn is None and base_fn is None:
        hash_fn = lambda c, seed: F.xxhash64(c, F.lit(seed))  # noqa: E731
    da = shingle_arrays(docs, n, id_col, text_col)
    if base_fn is not None:
        vals = F.transform(F.col("arr0"), lambda s: base_fn(s))
        seed_vec = lambda h: F.array(  # noqa: E731
            *[perm_fn(h, i) for i in range(num_hashes)]
        )
    else:
        vals = F.col("arr0")
        seed_vec = lambda s: F.array(  # noqa: E731
            *[hash_fn(s, i) for i in range(num_hashes)]
        )
    init = F.array_repeat(F.lit(2**63 - 1).cast("long"), num_hashes)
    sig = F.aggregate(
        vals, init, lambda acc, v: F.zip_with(acc, seed_vec(v), lambda a, b: F.least(a, b))
    )
    return da.select("doc_id", sig.alias("sig"))


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn=None,
    base_fn=None,
    perm_fn=None,
) -> DataFrame:
    """MinHash+LSH candidate pairs verified by exact Jaccard on signatures.

    bands x rows = num_hashes; candidates = docs sharing any full band value
    (band bucket join). Estimated jaccard = fraction of matching minhashes,
    then thresholded. Returns (doc_a, doc_b, est_jaccard).
    """
    rows = num_hashes // bands
    sigs = minhash_signatures(
        docs, num_hashes, n, id_col, text_col, hash_fn, base_fn, perm_fn
    )
    # One SQL expression for all band keys: composing it from Column calls
    # costs ~2k driver round trips per plan build.
    band_cols = F.expr(
        "explode(array({}))".format(
            ", ".join(
                f"named_struct('band', {bi}, 'bucket', xxhash64(concat_ws(',', "
                + ", ".join(
                    f"CAST(sig[{bi * rows + ri}] AS STRING)" for ri in range(rows)
                )
                + ")))"
                for bi in range(bands)
            )
        )
    )
    banded = (
        sigs.select("doc_id", "sig", band_cols.alias("bb"))
        .select(
            "doc_id",
            "sig",
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )
        .localCheckpoint(eager=False)  # one materialization for both join sides
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
    )
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
            lambda m: m,
        )
    ) / F.lit(num_hashes)
    # Verify BEFORE the pair dedup (guide §2.3 "shuffle fewer bytes"): est
    # is a pure function of (doc_a, doc_b) — every duplicate of a pair
    # carries the identical value — so filter/dropDuplicates commute, and
    # the dedup shuffle now moves only the pairs that pass the threshold
    # (and three scalars instead of two num_hashes-long signature arrays).
    return (
        cands.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn=F.xxhash64,
) -> DataFrame:
    """-> (doc_id, simhash bigint): 64-bit simhash over word unigrams.

    Bit j of simhash = majority vote of bit j over token hashes (set iff
    strictly more than half the tokens have it). JVM-side: explode tokens,
    then one groupBy with 32 packed bit counts — no UDF. hash_fn is applied
    as a Column and must return a LONG column
    (default xxhash64; kgner.functions.hashing.stable_hash64_col for the
    oracle-reproducible md5 variant).
    """
    from kgner.operators.partitioning import spread_scan

    # one regex pass; the DuckDB oracle replays this exact form.
    # spread_scan: tokenization + 64 bit-sums parallelize past a single-file
    # scan's 1-2 partitions (the groupBy's partial agg runs map-side).
    docs = spread_scan(docs, id_col)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_tokens(text_col)).alias("tok"),
    ).withColumn("h", hash_fn(F.col("tok")))
    # Packed bit-count aggregation (guide §1.2 "per-task work"): bit j's
    # majority vote needs only s_j = count of tokens with bit j set, since
    # sum(2*bit-1) = 2*s_j - n. Summing (h >>> j) & 0x0000000100000001
    # accumulates s_j (low lane) and s_{j+32} (high lane) in one long — 32
    # aggregate expressions instead of 64, exact integer arithmetic, no
    # lane overflow below 2^32 tokens per doc.
    # Sums and vote are ONE SQL aggregate expression: built from Column calls
    # they cost ~10k driver round trips per plan build. Each sum appears in
    # two vote terms; the planner computes identical aggregates once.
    terms = []
    for j in range(32):
        p = f"sum(shiftrightunsigned(h, {j}) & {0x0000000100000001}L)"
        terms.append(f"IF(({p} & {0xFFFFFFFF}L) * 2 > count(1), shiftleft(1L, {j}), 0L)")
        terms.append(
            f"IF(shiftrightunsigned({p}, 32) * 2 > count(1), shiftleft(1L, {j + 32}), 0L)"
        )
    vote = F.expr("0L + " + " + ".join(terms))
    return toks.groupBy("doc_id").agg(vote.alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn=F.xxhash64,
) -> DataFrame:
    """Near-dup pairs by simhash banding (4 x 16-bit bands; any equal band is
    a candidate — guaranteed to catch hamming <= 3) verified by exact
    popcount distance. Returns (doc_a, doc_b, hamming)."""
    sh = simhash(docs, id_col, text_col, hash_fn)
    bands = [
        F.shiftrightunsigned(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF)).alias(f"band{i}")
        for i in range(4)
    ]
    banded = sh.select("doc_id", "simhash", *bands)
    banded = (
        banded.select(
            "doc_id",
            "simhash",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"), F.col(f"band{i}").alias("key")
                        )
                        for i in range(4)
                    ]
                )
            ).alias("bk"),
        )
        .select(
            "doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
        )
        .localCheckpoint(eager=False)  # one materialization for both join sides
    )
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    # Verify BEFORE the pair dedup: hamming is a pure function of
    # (doc_a, doc_b), so the popcount filter commutes with dropDuplicates.
    # 16-bit bands collide heavily on low-entropy corpora (measured 94.7M
    # candidate rows for 100k docs at sf1.0) — filtering in the join's
    # output stage keeps those rows out of the dedup shuffle entirely.
    return (
        cands.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def dedup_keep_min(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Resolve near-dup pairs into survivors: connected components over the
    pair graph; the NUMERICALLY smallest doc id per cluster survives.

    Ids are offset to unsigned and zero-padded before CC (CC representatives
    are lexicographic minima — '10' < '9' as strings, and a bare lpad of a
    negative id like '-5' would not even round-trip), then the keeper is
    recomputed numerically per component. Valid for the full signed-64 id
    range (xxhash64-derived ids are negative ~half the time).
    """
    from kgner.operators.canonicalize import connected_components

    # 2^63 exceeds the JVM long range py4j can pass — ship it as a string
    offset20 = F.lit("9223372036854775808").cast("decimal(20,0)")
    offset21 = F.lit("9223372036854775808").cast("decimal(21,0)")

    def enc(col):
        return F.lpad(
            (col.cast("decimal(20,0)") + offset20)
            .cast("decimal(20,0)")
            .cast("string"),
            20,
            "0",
        )

    dec = (F.col("node").cast("decimal(21,0)") - offset21).cast("long")
    edges = pairs.select(
        enc(F.col("doc_a")).alias("src"), enc(F.col("doc_b")).alias("dst")
    )
    comp = connected_components(edges)
    nodes = comp.select("component", dec.alias("id"))
    keep = nodes.groupBy("component").agg(F.min("id").alias("keep_id"))
    losers = (
        nodes.join(keep, "component")
        .filter(F.col("id") != F.col("keep_id"))
        .select(F.col("id").alias(id_col))
    )
    return docs.join(losers, id_col, "left_anti")
