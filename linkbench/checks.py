"""Correctness checks against the generator's ground truth.

``match_f1``: F1 of emitted ``(a_id, b_id)`` links.  The true link of a
query page is the master page of the same entity; a query whose entity has
no master page is correct when it has no link (it adds nothing to F1), and
any link it does get is a false positive.

``cluster_f1``: pairwise F1 over page nodes.  A pair of pages is predicted
when both sit in the same component and true when both belong to the same
entity; singleton nodes take part but form no pairs.
"""

from __future__ import annotations

from collections import Counter


def f1(tp: int, n_pred: int, n_true: int) -> float:
    """F1 from (true positives, predicted, true) counts."""
    if n_pred == 0 and n_true == 0:
        return 1.0
    return 2.0 * tp / (n_pred + n_true)


def match_counts(links, truth_a: dict, master_of: dict) -> tuple:
    """-> (tp, predicted, true) link counts.  ``links``: iterable of
    (a_id, b_id); ``truth_a``: query id -> entity; ``master_of``: entity ->
    master id (entities with a master only)."""
    links = set(links)
    tp = sum(1 for a, b in links if master_of.get(truth_a.get(a)) == b)
    n_true = sum(1 for e in truth_a.values() if e in master_of)
    return tp, len(links), n_true


def match_f1(links, truth_a: dict, master_of: dict) -> float:
    return f1(*match_counts(links, truth_a, master_of))


def _pairs(sizes) -> int:
    return sum(n * (n - 1) // 2 for n in sizes)


def cluster_counts(component: dict, truth: dict) -> tuple:
    """-> (tp, predicted, true) page-pair counts.  ``component``: node ->
    component label for clustered nodes; ``truth``: node -> entity for
    every node.  Nodes missing from ``component`` are singletons."""
    comp = {n: component.get(n, ("singleton", n)) for n in truth}
    both = Counter((comp[n], truth[n]) for n in truth)
    return (_pairs(both.values()),
            _pairs(Counter(comp.values()).values()),
            _pairs(Counter(truth.values()).values()))


def cluster_f1(component: dict, truth: dict) -> float:
    return f1(*cluster_counts(component, truth))


def components(edges) -> dict:
    """Union-find over ``edges`` -> node -> smallest node of its component
    (the labelling ``operators.cluster.connected_components`` produces)."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def link_violations(rows, names: dict) -> list[str]:
    """Problems in one call's links: a repeated ``(a_id, b_id)``, or a link
    made on an empty name.  ``rows``: (a_id, b_id, original_name);
    ``names``: page id -> the name embedded in the generated page."""
    out = []
    seen = Counter((a, b) for a, b, _ in rows)
    out += [f"duplicate link {k}" for k, n in seen.items() if n > 1]
    for a, b, original in rows:
        if not (original or "").strip() or not names.get(a, "").strip():
            out.append(f"link on empty name {(a, b)}")
    return out
