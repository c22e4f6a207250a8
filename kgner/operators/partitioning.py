"""Scan-parallelism guard for unsplittable inputs (optimization guide §2.5).

The driver's parquet tables are written as ONE file with ONE row group per
table, so a scan of `documents` (or a union of two such scans) yields 1-2
input partitions no matter how many cores the session has: every map-heavy
stage rooted at that scan — shingle explosion, token hashing, regex quality
features, span-decode UDFs — runs on 1-2 cores of 32 until the first
shuffle. `spread_scan` inserts one cheap keyed repartition (the input rows
are skinny: ids + text) so the expensive downstream map work parallelizes.

Scale-adaptive by construction: the guard compares the plan's actual
partition count against the session's parallelism and is a NO-OP whenever
the scan already has enough splits — a real multi-file 100 TB table never
pays the extra exchange. The repartition key is a deterministic id column
(guide §2.5: never hash on rand()-derived keys), so retried tasks reproduce
the same row placement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Per-core task multiplier: a few tasks per core amortizes stragglers
# without per-task overhead dominating (the same 8x used by bench scaling
# workloads would be overkill for sub-second stages).
SPREAD_MULT = 2

# Opt-in floor for LIGHT one-pass maps (single split/lower/regex over the
# text): below ~32 KB of compressed input per core, the single-core map is
# already sub-second and a full exchange of the same bytes is pure fixed
# latency (measured at sf0.1: bm25 tokenize +1.3 s, lang_id +0.4 s from the
# exchange; at sf1.0-and-up the guard passes and the exchange wins 6x).
# Heavy per-row operators (shingle/n-gram HOF builds, simhash bit folds)
# must NOT use this floor — their work-per-byte amortizes the exchange even
# at tiny scale (ngram at sf0.1: 3.2 s with spread vs 5.2 s without,
# measured with the quadratic shingle expression that re-split the text once
# per shingle).
SPREAD_MIN_BYTES_PER_CORE = 32 << 10


def spread_scan(
    df: DataFrame,
    *key_cols: str,
    mult: int = SPREAD_MULT,
    min_bytes_per_core: int = 0,
) -> DataFrame:
    """Repartition `df` to cores*mult partitions keyed on `key_cols` iff its
    current partitioning is below half that target; otherwise return it
    unchanged. Keyed (hash) repartition avoids round-robin's
    sort-before-repartition pass and is deterministic under task retry.

    min_bytes_per_core > 0 additionally skips the repartition when the
    optimizer's size estimate gives each core less than that many bytes —
    the opt-in for light one-pass maps (see SPREAD_MIN_BYTES_PER_CORE);
    size estimation is driver-side plan stats, no job is launched."""
    try:
        sc = df.sparkSession.sparkContext
        target = sc.defaultParallelism * mult
        cur = df.rdd.getNumPartitions()
    except Exception:
        return df
    if cur * 2 > target:
        return df
    if min_bytes_per_core:
        try:
            size = int(
                str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
            )
        except Exception:
            size = None
        if size is not None and size < min_bytes_per_core * sc.defaultParallelism:
            return df
    if key_cols:
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df.repartition(target)
