"""Pure entity-linking logic shared by the Spark UDF layer and the oracle.

- alias gazetteer matching: the production form of the reference's
  entity-in-context substring matching (/root/reference/kb/context_process.py:578-657
  enumerates token spans i..j and equi-matches lowercase span text); we do a
  greedy longest-first left-to-right scan over whitespace tokens against a
  broadcast alias index.
- redirect/alias canonicalization: connected components over the alias graph
  (reference resolves single-hop redirects via db.resolve_redirect,
  /root/reference/kb/parse_text.py:59-63; we generalize to chains + cycles).
"""

from __future__ import annotations

Match = tuple[int, int, str]  # (start, end_exclusive, canonical_id)


def build_alias_index(
    aliases: list[tuple[str, str]]
) -> tuple[dict[str, str], int]:
    """aliases: [(alias_surface, canonical_id)] -> (lowercased index, max token len)."""
    idx: dict[str, str] = {}
    max_len = 1
    for surface, canon in aliases:
        key = surface.lower()
        if key and key not in idx:  # first writer wins; callers pre-sort for priority
            idx[key] = canon
            max_len = max(max_len, key.count(" ") + 1)
    return idx, max_len


def match_aliases(
    tokens: list[str], alias_idx: dict[str, str], max_len: int
) -> list[Match]:
    """Greedy longest-first left-to-right gazetteer scan (deterministic)."""
    low = [t.lower() for t in tokens]
    out: list[Match] = []
    i = 0
    n = len(low)
    while i < n:
        hit = None
        for ln in range(min(max_len, n - i), 0, -1):
            key = " ".join(low[i : i + ln])
            if key in alias_idx:
                hit = (i, i + ln, alias_idx[key])
                break
        if hit:
            out.append(hit)
            i = hit[1]
        else:
            i += 1
    return out


def connected_components(edges: list[tuple[str, str]]) -> dict[str, str]:
    """Union-find CC over an undirected edge list -> {node: representative}.

    Representative = lexicographic min of the component (deterministic).
    Oracle-side counterpart of kgner.operators.canonicalize; like it,
    ignores edges with a None endpoint.
    """
    edges = [(a, b) for a, b in edges if a is not None and b is not None]
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent} | {
        n: find(n) for e in edges for n in e
    }


def canonical_aliases(
    comp: dict[str, str], titles: set[str]
) -> dict[str, str]:
    """{node: component} + KB titles -> {alias_norm: canonical_id}.

    A component's representative is its smallest KB title, else its smallest
    node. Every node maps, lower-cased, to its component's representative;
    nodes of different components whose lower-case forms collide take the
    smallest representative. Shared by the oracle and the driver-side branch
    of kgner.operators.canonicalize.canonical_map.
    """
    title_rep: dict[str, str] = {}
    node_rep: dict[str, str] = {}
    for node, c in comp.items():
        if node in titles and (c not in title_rep or node < title_rep[c]):
            title_rep[c] = node
        if c not in node_rep or node < node_rep[c]:
            node_rep[c] = node
    out: dict[str, str] = {}
    for node, c in comp.items():
        canon = title_rep.get(c, node_rep[c])
        key = node.lower()
        if key not in out or canon < out[key]:
            out[key] = canon
    return out
