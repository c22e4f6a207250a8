"""Connected components for alias/redirect canonicalization.

The reference resolves one redirect hop (db.resolve_redirect,
/root/reference/kb/parse_text.py:59-63); real web KBs have chains and cycles,
so we canonicalize via connected components.

Two branches, chosen by connected_components' row and byte caps:
- local (the edge list fits the driver): union-find over the collected
  edges; canonical_map collects the KB titles in the same collect, builds
  the whole alias map on the driver with linkops.canonical_aliases, the
  function the oracle uses, and hands it to Spark as one Arrow-backed
  DataFrame — no Spark job beyond that collect.
- distributed: iterative min-label propagation expressed as DataFrame
  self-joins (no GraphFrames dependency), followed by the representative
  joins in Spark.

Scale notes (distributed branch):
- each iteration is one shuffle on `node` (groupBy min) + one join;
  iterations = O(graph diameter); redirect graphs have tiny diameter (<10).
- `max_iters` caps pathological chains; `localCheckpoint()` every iteration
  cuts the lineage so the plan doesn't grow exponentially (classic iterative-
  DataFrame pitfall), and canonical_map checkpoints its result.
- convergence check is a cheap aggregate (sum of label changes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgner import linkops

# connected_components' driver-side caps: edge rows, and estimated bytes
LOCAL_MAX_EDGES = 2_000_000
LOCAL_MAX_BYTES = 256 * 1024 * 1024


def connected_components(
    edges: DataFrame,
    max_iters: int = 20,
    local_threshold: int = LOCAL_MAX_EDGES,
    local_threshold_bytes: int = LOCAL_MAX_BYTES,
) -> DataFrame:
    """edges(src, dst) undirected -> (node, component) with component = the
    lexicographically smallest node in the component (matches the oracle
    kgner.linkops.connected_components).

    Hybrid strategy: alias/redirect graphs are DIMENSION-sized (~10^7-10^8
    edges for all of Wikipedia — far below corpus scale), so when the edge
    list fits the driver we run union-find in one pass instead of paying
    O(diameter) Spark jobs of pure scheduling latency. Above the threshold,
    distributed min-label propagation (below) takes over unchanged. Both
    produce identical (node, component) output.

    The local bound is BYTE-aware, not just row-count: a tiny probe ESTIMATES
    average edge width, and the row cap shrinks so the bounded collect stays
    under `local_threshold_bytes` — 2M edges of wide node strings would
    otherwise land several hundred MB on the driver. The probe is the first
    1024 rows in partition order, read by one task (so one Spark job, and
    the whole graph when it is smaller); if edge widths are skewed across
    partitions the estimate can undercount, so the
    per-edge estimate is padded by a 1.25x safety factor (and the collect
    stays hard-bounded by the `local_threshold` row cap regardless). With
    the defaults the byte cap starts undercutting the 2M row cap at ~5 chars
    of node text per edge (256 MB / (1.25 x (98 B overhead + chars)));
    dedup_keep_min's 20-char encoded ids cap at ~1.8M edges — the caps are
    deliberately the same order so neither silently dominates.

    Edges with a null endpoint (e.g. a redirect with no target) are dropped
    before either path runs, so both paths see the same graph. The local
    result is handed to Spark as an Arrow table: its scans stay in the JVM
    instead of starting Python workers as a list-built DataFrame would.
    """
    edges = _non_null(edges)
    rows = _local_edges(
        edges.select("src", "dst"), local_threshold, local_threshold_bytes
    )
    if rows is None:
        return _cc_distributed(edges, max_iters)
    comp = linkops.connected_components(rows)
    return _arrow_frame(edges.sparkSession, ("node", "component"), sorted(comp.items()))


def _local_edges(
    edges: DataFrame,
    local_threshold: int = LOCAL_MAX_EDGES,
    local_threshold_bytes: int = LOCAL_MAX_BYTES,
) -> list[tuple] | None:
    """The rows of `edges` (src, dst and any further columns) collected to
    the driver as tuples, or None when they exceed the row or byte cap (see
    connected_components)."""
    PROBE = 1024
    # one partition: the probe is one Spark job that reads the inputs in
    # turn until it has PROBE rows, where a plain limit() submits a job per
    # round of partitions it scans
    probe = [tuple(r) for r in edges.coalesce(1).limit(PROBE).collect()]
    if len(probe) < PROBE:
        return probe  # the probe WAS the whole graph
    # ~98 bytes of PyObject/tuple overhead per edge beyond the characters;
    # 1.25x pads the single-partition probe against cross-partition skew
    avg_bytes = 1.25 * (
        sum(len(r[0] or "") + len(r[1] or "") for r in probe) / len(probe) + 98
    )
    row_cap = min(local_threshold, int(local_threshold_bytes / avg_bytes))
    rows = [tuple(r) for r in edges.limit(row_cap + 1).collect()]
    return None if len(rows) > row_cap else rows


def _arrow_frame(spark, names: tuple[str, str], rows: list[tuple[str, str]]):
    """A two-string-column DataFrame built from a pyarrow.Table: its scans
    stay in the JVM instead of starting Python workers as a list-built
    DataFrame would."""
    import pyarrow as pa

    table = pa.table(
        [[r[0] for r in rows], [r[1] for r in rows]],
        schema=pa.schema([(n, pa.string()) for n in names]),
    )
    return spark.createDataFrame(table)


def _non_null(edges: DataFrame) -> DataFrame:
    return edges.filter(F.col("src").isNotNull() & F.col("dst").isNotNull())


def _cc_distributed(edges: DataFrame, max_iters: int = 20) -> DataFrame:
    """Distributed min-label propagation (used above local_threshold)."""
    edges = _non_null(edges)
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .union(edges.select(F.col("src").alias("src"), F.col("src").alias("dst")))
        .union(edges.select(F.col("dst").alias("src"), F.col("dst").alias("dst")))
        .distinct()
    )
    # label[node] = min neighbor (incl. self) to start
    labels = sym.groupBy(F.col("src").alias("node")).agg(
        F.min("dst").alias("component")
    )
    labels = labels.localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iters):
        # propagate: candidate label via neighbors' labels
        neigh = (
            sym.join(labels, sym.dst == labels.node, "inner")
            .select(sym.src.alias("node"), F.col("component"))
        )
        new_labels = (
            neigh.union(labels.select("node", "component"))
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # returning partial labels would silently split entities across
        # components — fail loudly; callers raise max_iters for deep chains
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} iterations"
            " — graph diameter exceeds max_iters; raise max_iters"
        )
    return labels


def canonical_map(
    edges: DataFrame, titles: DataFrame, max_iters: int = 20
) -> DataFrame:
    """-> (alias_norm, canonical_id): every node of the alias graph mapped to
    its component's canonical representative.

    Representative = the KB title in the component when one exists (smallest
    title if several), else the smallest node — same rule as the oracle.
    `titles` must have a `title` column. Output alias_norm is lowercased.

    When the edges and titles fit the driver (connected_components' local
    caps), the whole map is built there: one collect of the edges and the
    titles together (title rows flagged, never inferred from self-loops — a
    redirect can be (x, x)), union-find, and linkops.canonical_aliases, the
    function the oracle's build_canonical_map calls. The result is one
    Arrow-backed DataFrame with nothing upstream to recompute. Above the
    caps, the distributed CC and the representative joins below run in
    Spark.
    """
    edges = _non_null(edges)
    flagged = edges.select("src", "dst", F.lit(False).alias("is_title")).union(
        titles.select(
            F.col("title").alias("src"),
            F.lit(None).cast("string").alias("dst"),
            F.lit(True).alias("is_title"),
        )
    )
    rows = _local_edges(flagged)
    if rows is not None:
        title_set = {src for src, _, is_title in rows if is_title}
        comp = linkops.connected_components(
            [(src, dst) for src, dst, is_title in rows if not is_title]
        )
        canon = linkops.canonical_aliases(comp, title_set)
        return _arrow_frame(
            edges.sparkSession, ("alias_norm", "canonical_id"), sorted(canon.items())
        )
    comp = _cc_distributed(edges, max_iters)
    t = titles.select(F.col("title")).distinct()
    rep = (
        comp.join(t, comp.node == t.title, "left")
        .groupBy("component")
        .agg(
            F.min("title").alias("title_rep"),
            F.min("node").alias("node_rep"),
        )
        .select(
            "component",
            F.coalesce("title_rep", "node_rep").alias("canonical_id"),
        )
    )
    # case-variant nodes in different components can collide after lower();
    # min(canonical_id) makes the winner deterministic (oracle matches)
    out = (
        comp.join(rep, "component")
        .select(F.lower(F.col("node")).alias("alias_norm"), "canonical_id")
        .groupBy("alias_norm")
        .agg(F.min("canonical_id").alias("canonical_id"))
    )
    # The map is dimension-sized and typically consumed twice per pipeline
    # (broadcast-index build AND the triple join) — checkpoint so the edge
    # build + distributed CC + representative joins run once per job instead
    # of once per consumer (~40% of the bench KG pipeline before this, when
    # every graph took this Spark path).
    return out.localCheckpoint(eager=False)
