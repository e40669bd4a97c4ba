"""Batch-vectorized scoring kernels (numpy) for the hot pandas-UDF path.

The reference scores pairs one at a time in Python
(/root/reference/name_matching/name_matcher.py:849-880); round 1 kept that
shape inside an Arrow-batched UDF, which left editex's O(n*m) Python DP as
the throughput ceiling (~170us/pair on 30-char names, half the 5-metric
default ensemble).  ``editex_batch`` recomputes the SAME values batched
across the whole Arrow batch: the Zobel-Dart row recurrence
cur[j] = min(M[j], cur[j-1] + ins[j]) is rewritten as a min-plus prefix
scan -- cur = running_min(M - cumsum(ins)) + cumsum(ins) -- so each DP row
is a handful of vectorized int16 ops over (batch, m) instead of a Python
inner loop (measured ~4.5x on bench-shaped names).

The gestalt metrics (ratcliff_obershelp / fuzzy_wuzzy_token_sort) were
also prototyped as batched-numpy recursions, in three shapes (round-
synchronized full tensors, windowed gathers, per-pair contiguous slices);
all lost to difflib's output-sensitive C-assisted scan on <=60-char names
(8-13k pairs/s vs 18k), so those stay scalar with per-string caching.

Every kernel is validated bit-exactly against the scalar functions in
``metrics.py`` (the oracle) over golden pairs, fuzz corpora and edge cases
in tests/test_metrics_batch.py.  Pairs outside the vectorized envelope
(strings > 199 chars) fall back to the scalar functions pair-by-pair.
"""

from __future__ import annotations

import numpy as np

from .metrics import (
    METRIC_FUNCTIONS,
    _EDITEX_MASK,
    _editex_prep,
    flat_metric_variants,
)

# strings above this length are routed to the scalar fallback: it keeps
# DP distances inside int16 and stops rare huge strings from inflating
# every pair's padded width
_MAX_VECTOR_LEN = 199

# pairs per internal chunk: bounds the padded tensors (a 2048 x 51 x 51
# int16 run tensor is ~10 MB, L2/L3-friendly)
_CHUNK = 2048

# ---------------------------------------------------------------------------
# editex
# ---------------------------------------------------------------------------


def editex_batch(src: list[str], tar: list[str]) -> np.ndarray:
    """Vector of sim_editex values for aligned string lists."""
    B = len(src)
    out = np.empty(B, dtype=np.float64)
    # raw-length normalizer (metrics.sim_editex computes norm BEFORE the
    # NFKD prep, from the raw inputs)
    norms = np.array([2 * max(len(a), len(b)) for a, b in zip(src, tar)],
                     dtype=np.float64)

    preps_s = [_editex_prep(a) for a in src]
    preps_t = [_editex_prep(b) for b in tar]

    done = np.zeros(B, dtype=bool)
    for i, (a, b) in enumerate(zip(src, tar)):
        s, t = preps_s[i][0], preps_t[i][0]
        if a == b or norms[i] == 0 or s == t:
            out[i] = 1.0
            done[i] = True
        elif not s:
            out[i] = 1.0 - 2 * len(t) / norms[i]
            done[i] = True
        elif not t:
            out[i] = 1.0 - 2 * len(s) / norms[i]
            done[i] = True
        elif len(s) > _MAX_VECTOR_LEN or len(t) > _MAX_VECTOR_LEN:
            # rare huge strings: scalar fallback keeps the int16 DP bound
            out[i] = METRIC_FUNCTIONS["editex"](a, b)
            done[i] = True

    idx_all = np.nonzero(~done)[0]
    if len(idx_all) > _CHUNK:
        # length-sorted chunks keep each chunk's padded DP width tight
        order = np.argsort([len(preps_s[i][0]) for i in idx_all],
                           kind="stable")
        idx_all = idx_all[order]
    for lo in range(0, len(idx_all), _CHUNK):
        idx = idx_all[lo: lo + _CHUNK]
        dist = _editex_dp([preps_s[i] for i in idx],
                          [preps_t[i] for i in idx])
        out[idx] = 1.0 - dist / norms[idx]
    return out


def _editex_dp(preps_s: list, preps_t: list) -> np.ndarray:
    """Batched editex DP over prepped (string, masks, boundary-costs)
    tuples; returns the distance vector."""
    nb = len(preps_s)
    n_len = np.fromiter((len(p[0]) for p in preps_s), np.int32, nb)
    m_len = np.fromiter((len(p[0]) for p in preps_t), np.int32, nb)
    max_n, max_m = int(n_len.max()), int(m_len.max())

    s_code = np.full((nb, max_n), -1, np.int32)
    s_mask = np.zeros((nb, max_n), np.int16)   # 9 editex groups -> 9 bits
    s_del = np.zeros((nb, max_n), np.int16)
    t_code = np.full((nb, max_m), -2, np.int32)
    t_mask = np.zeros((nb, max_m), np.int16)
    t_ins = np.zeros((nb, max_m), np.int16)
    for k in range(nb):
        s, sm, sd = preps_s[k]
        t, tm, ti = preps_t[k]
        ln, lm = len(s), len(t)
        s_code[k, :ln] = np.frombuffer(
            s.encode("utf-32-le"), np.uint32).astype(np.int32)
        s_mask[k, :ln] = sm
        s_del[k, :ln] = sd
        t_code[k, :lm] = np.frombuffer(
            t.encode("utf-32-le"), np.uint32).astype(np.int32)
        t_mask[k, :lm] = tm
        t_ins[k, :lm] = ti

    # int16 DP state: distances are bounded by 2 * max len (<= 2 * 199),
    # far inside int16 range, and halving memory traffic matters -- the
    # batch DP is bandwidth-bound, not compute-bound
    # C[j] = cumulative insert cost up to column j (column 0 = boundary)
    C = np.zeros((nb, max_m + 1), np.int16)
    np.cumsum(t_ins, axis=1, dtype=np.int16, out=C[:, 1:])
    prev = C.copy()          # DP row 0
    cur = np.empty_like(C)   # double buffer, swapped with prev per row
    row0 = np.zeros(nb, np.int16)
    dist = np.zeros(nb, np.int16)
    G = np.empty((nb, max_m + 1), np.int16)
    r = np.empty((nb, max_m), np.int16)
    # capture for pairs whose src is exhausted at row 0 never happens here
    # (empty s handled above)
    for i in range(max_n):
        sc = s_code[:, i]
        ms = s_mask[:, i]
        dc = s_del[:, i]
        eq = t_code == sc[:, None]
        grp = (t_mask & ms[:, None]) != 0
        # r-cost: 0 equal / 1 same group / 2 mismatch
        np.subtract(2, grp, out=r, casting="unsafe")
        r[eq] = 0
        np.add(prev[:, :-1], r, out=r)           # sub candidates
        np.minimum(r, prev[:, 1:] + dc[:, None], out=r)
        row0 = row0 + dc
        G[:, 0] = row0          # - C[:,0] == 0
        np.subtract(r, C[:, 1:], out=G[:, 1:])
        np.minimum.accumulate(G, axis=1, out=G)
        np.add(G, C, out=cur)
        finished = n_len == i + 1
        if finished.any():
            f = np.nonzero(finished)[0]
            dist[f] = cur[f, m_len[f]]
        prev, cur = cur, prev
    return dist


# ---------------------------------------------------------------------------
# dispatcher
# ---------------------------------------------------------------------------

BATCH_KERNELS = {
    "editex": editex_batch,
}


def flat_metric_columns(metrics) -> list[str]:
    """Per-variant labels in score-matrix column order (registry group
    order).  A default-parameter metric's label is its bare name; a
    kwargs variant's label folds the frozen kwargs in
    (``metric_variant_label``), so distinct variants key distinct
    pair-cache namespaces and never serve each other's rows."""
    return [label for _, _, label in flat_metric_variants(metrics)]


# cross-batch pair-score cache, one dict per metric tuple, living in the
# long-lived Python worker: real corpora repeat normalized names across
# Arrow batches too (hot company names pair with many queries), so a pair
# scored in batch k is free in batch k+1.  Entries are (a, b) -> the
# float64 score row; reuse is bit-identical by construction (the same row
# the kernel produced).  The cap bounds worker memory (a full cache is
# ~tens of MB incl. key strings); on overflow the cache is cleared rather
# than LRU-tracked -- hit accounting stays O(1) and a refill is cheap
# relative to the scoring it saves.  NM_PAIR_CACHE_MAX=0 (propagated to
# workers via spark.executorEnv) disables cross-batch reuse -- the bench's
# scaling legs use it so repeated timing passes over one fixed workload
# measure the KERNEL, not cache-hit throughput.
import os as _os

_PAIR_CACHE: dict[tuple, dict] = {}
_PAIR_CACHE_MAX = int(_os.environ.get("NM_PAIR_CACHE_MAX", str(1 << 18)))


def score_batch(a_strs: list[str], b_strs: list[str],
                metrics) -> np.ndarray:
    """(B, n_metrics) score matrix; batch kernels where available, scalar
    functions elsewhere.  Column order == flat_metric_fns order.

    Identical (a, b) pairs are scored ONCE -- within a batch (the
    index/inv pass) AND across batches (_PAIR_CACHE) -- and the row is
    broadcast back (real name corpora are duplicate-heavy: normalized
    names repeat, so candidate pairs repeat).  Scores are bit-identical
    by construction -- the same functions run on the same strings -- and
    the dict passes are O(B) string hashing, noise next to the
    ~10^2 us/pair kernel."""
    variants = flat_metric_variants(metrics)
    names = [label for _, _, label in variants]
    # labels fold frozen kwargs in, so a customized variant's cache can
    # never serve the default variant's rows (or another customization's)
    cache = (_PAIR_CACHE.setdefault(tuple(names), {})
             if _PAIR_CACHE_MAX > 0 else None)
    B = len(a_strs)
    index: dict[tuple[str, str], int] = {}
    inv = np.empty(B, np.int64)
    for i in range(B):
        key = (a_strs[i], b_strs[i])
        j = index.get(key)
        if j is None:
            j = len(index)
            index[key] = j
        inv[i] = j
    keys = list(index)              # insertion order == unique index order
    out_u = np.empty((len(keys), len(names)), np.float64)
    miss_keys: list[tuple[str, str]] = []
    miss_pos: list[int] = []
    for u, key in enumerate(keys):
        row = cache.get(key) if cache is not None else None
        if row is not None:
            out_u[u] = row
        else:
            miss_keys.append(key)
            miss_pos.append(u)
    if miss_keys:
        scored = _score_unique([k[0] for k in miss_keys],
                               [k[1] for k in miss_keys], variants)
        out_u[miss_pos] = scored
        if cache is not None:
            if len(cache) + len(miss_keys) > _PAIR_CACHE_MAX:
                cache.clear()
            # insert only up to the cap: one batch with more unique pairs
            # than the whole cap (reachable via a small NM_PAIR_CACHE_MAX)
            # must not leave the cache above it after the clear
            room = _PAIR_CACHE_MAX - len(cache)
            for k, row in zip(miss_keys[:room], scored):
                cache[k] = row
    return out_u[inv]


def _score_unique(a_strs: list[str], b_strs: list[str],
                  variants: list[tuple]) -> np.ndarray:
    """variants: [(name, kwargs_items, label)].  Batch kernels implement
    the DEFAULT parameters only, so kwargs variants always take the
    scalar function with the kwargs bound."""
    out = np.empty((len(a_strs), len(variants)), np.float64)
    for c, (name, kw, _label) in enumerate(variants):
        kern = BATCH_KERNELS.get(name) if not kw else None
        if kern is not None:
            out[:, c] = kern(a_strs, b_strs)
        else:
            fn = METRIC_FUNCTIONS[name]
            kwargs = dict(kw)
            out[:, c] = [fn(a, b, **kwargs)
                         for a, b in zip(a_strs, b_strs)]
    return out
