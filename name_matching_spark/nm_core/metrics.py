"""Pure-Python string-similarity metrics.

Re-implementations (from the published algorithm definitions) of the metric
ensemble the reference engine exposes via ``make_distance_metrics``
(/root/reference/name_matching/distance_metrics.py:6-432).  Every function
here maps two strings to a similarity in [0, 1] and is validated against the
golden values in /root/reference/name_matching/test/test_distance_metrics.py.

These serve double duty: they are the kernel executed inside the Spark
pandas UDF (operators/scoring.py) *and* the NumPy-free oracle used by the
test-suite, so Spark output and oracle output come from one implementation.

Design note: the reference wraps each metric in an Abydos class hierarchy;
here each metric is a plain function (or closure), which is both simpler and
faster inside Arrow-batched UDFs.  Group structure and iteration order of
``make_metric_registry`` mirror the reference registry so that score-matrix
column order is identical (distance_metrics.py:257-431).
"""

from __future__ import annotations

import bz2
import unicodedata
from collections import Counter
from difflib import SequenceMatcher
from functools import lru_cache
from math import copysign, log

from .tokenize import (
    QGRAM2_ALPHABET,
    TokenStats,
    char_counter,
    qgram_counter,
    regexp_tokens,
)

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _qstats(src: str, tar: str) -> TokenStats:
    return TokenStats(qgram_counter(src), qgram_counter(tar), QGRAM2_ALPHABET)


def _lev_dist_abs(src: str, tar: str, ins: float = 1, dele: float = 1,
                  sub: float = 1) -> float:
    """Wagner-Fischer levenshtein distance (mode 'lev')."""
    if src == tar:
        return 0
    if not src:
        return ins * len(tar)
    if not tar:
        return dele * len(src)
    prev = [j * ins for j in range(len(tar) + 1)]
    for i, cs in enumerate(src, 1):
        cur = [i * dele]
        for j, ct in enumerate(tar, 1):
            best = prev[j - 1] if cs == ct else prev[j - 1] + sub
            up = prev[j] + dele
            if up < best:
                best = up
            left = cur[j - 1] + ins
            if left < best:
                best = left
            cur.append(best)
        prev = cur
    return prev[-1]


def _lcs_len(src: str, tar: str) -> int:
    """Longest common subsequence length (standard DP, rolling rows)."""
    if not src or not tar:
        return 0
    prev = [0] * (len(tar) + 1)
    for cs in src:
        cur = [0]
        for j, ct in enumerate(tar, 1):
            if cs == ct:
                cur.append(prev[j - 1] + 1)
            else:
                cur.append(cur[j - 1] if cur[j - 1] >= prev[j] else prev[j])
        prev = cur
    return prev[-1]


# ---------------------------------------------------------------------------
# Levenshtein family
# ---------------------------------------------------------------------------


def sim_levenshtein(src: str, tar: str, mode: str = "lev",
                    cost: tuple = (1, 1, 1, 1)) -> float:
    """Normalized Levenshtein similarity with the reference's full option
    surface (distances/_levenshtein.py:128-166,325-383): ``mode`` 'lev' or
    'osa', ``cost`` = (ins, del, sub, trans).  The normalizer is the
    published one -- max(len(src)*del_cost, len(tar)*ins_cost) -- which
    reduces to max(len) at unit costs, so the default path is bit-identical
    to the costless fast kernel."""
    if src == tar:
        return 1.0
    cost = tuple(cost)
    if mode == "lev" and cost[:3] == (1, 1, 1):
        denom = max(len(src), len(tar))
        if denom == 0:
            return 1.0
        return 1.0 - _lev_dist_abs(src, tar) / denom
    ins_c, del_c = cost[0], cost[1]
    denom = max(len(src) * del_c, len(tar) * ins_c)
    if denom == 0:
        return 1.0
    return 1.0 - levenshtein_dist_abs(src, tar, mode=mode,
                                      cost=cost) / denom


def levenshtein_alignment(
    src: str,
    tar: str,
    mode: str = "lev",
    cost: tuple[float, float, float, float] = (1, 1, 1, 1),
) -> tuple[float, str, str]:
    """(distance, src_aligned, tar_aligned) with '-' gaps.

    Full-option Levenshtein surface of the reference
    (distances/_levenshtein.py:36-388): mode 'lev' or 'osa' (adds
    transpositions, substrings edited once), cost 4-tuple
    (ins, del, sub, trans).  Implemented fresh from the published
    algorithm (classic Wagner-Fischer + backtrace; boundary row traces as
    inserts, boundary column as deletes; tie order ins < del < sub;
    transposition recorded as a diagonal trace), validated against the
    reference's published docstring examples in tests.
    """
    ins_c, del_c, sub_c, trans_c = cost
    n, m = len(src), len(tar)
    # d[i][j] = cost of src[:i] -> tar[:j]; trace 0=ins, 1=del, 2=diag
    d = [[0.0] * (m + 1) for _ in range(n + 1)]
    trace = [[0] * (m + 1) for _ in range(n + 1)]
    for i in range(n + 1):
        d[i][0] = i * del_c
        trace[i][0] = 1
    for j in range(m + 1):
        d[0][j] = j * ins_c
        trace[0][j] = 0
    for i in range(n):
        for j in range(m):
            opts = (
                d[i + 1][j] + ins_c,
                d[i][j + 1] + del_c,
                d[i][j] + (sub_c if src[i] != tar[j] else 0),
            )
            best = min(opts)
            d[i + 1][j + 1] = best
            trace[i + 1][j + 1] = opts.index(best)
            if (mode == "osa" and i > 0 and j > 0
                    and src[i] == tar[j - 1] and src[i - 1] == tar[j]):
                t = d[i - 1][j - 1] + trans_c
                if t < d[i + 1][j + 1]:
                    d[i + 1][j + 1] = t
                    trace[i + 1][j + 1] = 2
                elif t == d[i + 1][j + 1]:
                    trace[i + 1][j + 1] = 2
    src_al: list[str] = []
    tar_al: list[str] = []
    i, j = n, m
    distance = d[n][m]
    while i and j:
        t = trace[i][j]
        if t == 2:
            src_al.append(src[i - 1])
            tar_al.append(tar[j - 1])
            i -= 1
            j -= 1
        elif t == 1:
            src_al.append(src[i - 1])
            tar_al.append("-")
            i -= 1
        else:
            src_al.append("-")
            tar_al.append(tar[j - 1])
            j -= 1
    while j:
        j -= 1
        src_al.append("-")
        tar_al.append(tar[j])
    while i:
        i -= 1
        src_al.append(src[i])
        tar_al.append("-")
    return distance, "".join(src_al[::-1]), "".join(tar_al[::-1])


def levenshtein_dist_abs(
    src: str,
    tar: str,
    mode: str = "lev",
    cost: tuple[float, float, float, float] = (1, 1, 1, 1),
) -> float:
    """Absolute Levenshtein/OSA distance with the reference's cost
    options (ins, del, sub, trans)."""
    if mode == "lev" and cost[:3] == (1, 1, 1):
        return _lev_dist_abs(src, tar)
    ins_c, del_c, sub_c, trans_c = cost
    n, m = len(src), len(tar)
    if not n:
        return m * ins_c
    if not m:
        return n * del_c
    prev2: list[float] | None = None
    prev = [j * ins_c for j in range(m + 1)]
    for i in range(1, n + 1):
        cur = [i * del_c]
        cs = src[i - 1]
        for j in range(1, m + 1):
            ct = tar[j - 1]
            best = prev[j - 1] + (0 if cs == ct else sub_c)
            up = prev[j] + del_c
            if up < best:
                best = up
            left = cur[j - 1] + ins_c
            if left < best:
                best = left
            if (mode == "osa" and i > 1 and j > 1
                    and cs == tar[j - 2] and src[i - 2] == ct):
                t = prev2[j - 2] + trans_c
                if t < best:
                    best = t
            cur.append(best)
        prev2 = prev
        prev = cur
    return prev[-1]


def sim_indel(src: str, tar: str) -> float:
    """Levenshtein with inserts/deletes only, normalized by len(a)+len(b)."""
    if src == tar:
        return 1.0
    total = len(src) + len(tar)
    if total == 0:
        return 1.0
    dist_abs = total - 2 * _lcs_len(src, tar)
    return 1.0 - dist_abs / total


def _disc_log(d: float) -> float:
    return 1.0 / (log(1.0 + d / 5.0) + 1.0)


def sim_discounted_levenshtein(src: str, tar: str) -> float:
    """Levenshtein with log-discounted per-position costs, normalizer=max.

    Position discounting starts from index 1 (discount_from=1); boundary
    rows use 1-based positions while the inner loop uses 0-based positions,
    matching the published implementation's indexing.
    """
    if src == tar:
        return 1.0
    src_len, tar_len = len(src), len(tar)
    norm = max(
        sum(_disc_log(max(0, p - 1)) for p in range(src_len)),
        sum(_disc_log(max(0, p - 1)) for p in range(tar_len)),
    )
    if norm == 0:
        return 1.0
    if not src:
        da = sum(_disc_log(max(0, p - 1)) for p in range(tar_len))
        return 1.0 - da / norm
    if not tar:
        da = sum(_disc_log(max(0, p - 1)) for p in range(src_len))
        return 1.0 - da / norm
    prev = [0.0] * (tar_len + 1)
    for j in range(1, tar_len + 1):
        prev[j] = prev[j - 1] + _disc_log(max(0, j - 1))
    row0 = 0.0
    for i in range(src_len):
        i_extend = _disc_log(max(0, i - 1))
        cur = [row0 + _disc_log(max(0, (i + 1) - 1))]
        row0 = cur[0]
        cs = src[i]
        for j in range(tar_len):
            cost = min(i_extend, _disc_log(max(0, j - 1)))
            best = prev[j] + (0.0 if cs == tar[j] else cost)
            o1 = cur[j] + cost
            if o1 < best:
                best = o1
            o2 = prev[j + 1] + cost
            if o2 < best:
                best = o2
            cur.append(best)
        prev = cur
    return 1.0 - prev[-1] / norm


def sim_jaro_winkler(src: str, tar: str, long_strings: bool = False,
                     boost_threshold: float = 0.7,
                     scaling_factor: float = 0.1) -> float:
    """Jaro-Winkler similarity (character tokens of the stripped strings)."""
    if src == tar:
        return 1.0
    s, t = src.strip(), tar.strip()
    lens, lent = len(s), len(t)
    if lens == 0 or lent == 0:
        return 0.0
    search_range = max(lens, lent)
    minv = min(lens, lent)
    src_flag = [False] * search_range
    tar_flag = [False] * search_range
    search_range = max(0, search_range // 2 - 1)
    num_com = 0
    yl1 = lent - 1
    for i in range(lens):
        low = i - search_range if i >= search_range else 0
        hi = i + search_range if i + search_range <= yl1 else yl1
        for j in range(low, hi + 1):
            if not tar_flag[j] and t[j] == s[i]:
                tar_flag[j] = True
                src_flag[i] = True
                num_com += 1
                break
    if num_com == 0:
        return 0.0
    k = n_trans = 0
    for i in range(lens):
        if src_flag[i]:
            j = 0
            for j in range(k, lent):
                if tar_flag[j]:
                    k = j + 1
                    break
            if s[i] != t[j]:
                n_trans += 1
    n_trans //= 2
    weight = (num_com / lens + num_com / lent
              + (num_com - n_trans) / num_com) / 3.0
    if weight > boost_threshold:
        j = 4 if minv >= 4 else minv
        i = 0
        while i < j and s[i] == t[i]:
            i += 1
        weight += i * scaling_factor * (1.0 - weight)
        if (long_strings and minv > 4 and num_com > i + 1
                and 2 * num_com >= minv + i):
            weight += (1.0 - weight) * ((num_com - i - 1)
                                        / (lens + lent - i * 2 + 2))
    return weight


def sim_lig3(src: str, tar: str) -> float:
    """LIG3: 2*positional-matches / (2*matches + levenshtein cost)."""
    if src == tar:
        return 1.0
    matches = 2 * sum(a == b for a, b in zip(src, tar))
    cost = _lev_dist_abs(src, tar)
    if matches + cost == 0:
        return 0.0
    return matches / (matches + cost)


# ---------------------------------------------------------------------------
# Block-move edit distances
# ---------------------------------------------------------------------------


def sim_tichy(src: str, tar: str) -> float:
    """Tichy block-move edit distance, normalized by len(tar)."""
    if src == tar:
        return 1.0
    src_len, tar_len = len(src), len(tar)
    moves = adds = 0
    q_pos = 0
    while q_pos < tar_len:
        # longest block of tar[q_pos:] found anywhere in src
        length = 0
        p_cur = 0
        while p_cur + length <= src_len and q_pos + length <= tar_len:
            length_cur = 0
            while (p_cur + length_cur < src_len
                   and q_pos + length_cur < tar_len
                   and src[p_cur + length_cur] == tar[q_pos + length_cur]):
                length_cur += 1
            if length_cur > length:
                length = length_cur
            p_cur += 1
        if length > 0:
            moves += 1
        else:
            adds += 1
        q_pos += max(1, length)
    score = moves + adds
    if score == 0 or tar_len == 0:
        return 1.0
    return 1.0 - score / tar_len


def sim_cormode_lz(src: str, tar: str) -> float:
    """CormodeLZ: LZ-parse of src against tar, dist=(pieces-1)/len(src)."""
    edits = 0
    pos = 0
    span = 1
    while max(pos + 1, pos + span) <= len(src):
        if src[pos:pos + span] in tar or src[pos:pos + span] in src[:pos]:
            span += 1
        else:
            edits += 1
            pos += max(1, span - 1)
            span = 1
    num = (1 + edits) - 1
    if num == 0:
        return 1.0
    return 1.0 - num / len(src)


# ---------------------------------------------------------------------------
# Subsequence distances
# ---------------------------------------------------------------------------


def sim_iterative_sub_string(src: str, tar: str, hamacher: float = 0.6) -> float:
    """Iterative longest-common-substring peeling (Hadjieleftheriou/ISS)."""
    input_src, input_tar = src, tar
    src_len, tar_len = len(src), len(tar)
    if src_len == 0 and tar_len == 0:
        return 1.0
    if src_len == 0 or tar_len == 0:
        return 0.0

    common = 0
    best = 2
    while src and tar and best != 0:
        best = 0
        ls, lt = len(src), len(tar)
        start_src = end_src = start_tar = end_tar = 0
        i = 0
        while i < ls and ls - i > best:
            j = 0
            while lt - j > best:
                k = i
                while j < lt and src[k] != tar[j]:
                    j += 1
                if j != lt:
                    p = j
                    j += 1
                    k += 1
                    while j < lt and k < ls and src[k] == tar[j]:
                        j += 1
                        k += 1
                    if k - i > best:
                        best = k - i
                        start_src, end_src = i, k
                        start_tar, end_tar = p, j
            i += 1
        src = src[:start_src] + src[end_src:]
        tar = tar[:start_tar] + tar[end_tar:]
        if best > 2:
            common += best
        else:
            best = 0

    commonality = 2.0 * common / (src_len + tar_len)
    idx = min(len(input_src), len(input_tar))
    for i in range(min(len(input_src), len(input_tar))):
        if input_src[i] != input_tar[i]:
            idx = i
            break
    winkler_improvement = min(4.0, idx) * 0.1 * (1.0 - commonality)
    unmatched_src = max(src_len - common, 0) / src_len
    unmatched_tar = max(tar_len - common, 0) / tar_len
    unmatched_prod = unmatched_src * unmatched_tar
    dissimilarity = unmatched_prod / (
        hamacher
        + (1 - hamacher) * (unmatched_src + unmatched_tar - unmatched_prod)
    )
    corr = commonality - dissimilarity + winkler_improvement
    return (corr + 1.0) / 2.0


def _gestalt_total(a: str, b: str) -> int:
    """Total matching-block characters, difflib.SequenceMatcher semantics
    with autojunk=False (earliest-maximal block, recursive peeling).

    Specialized re-derivation of difflib's find_longest_match inner loop
    without the class setup, Match tuples, autojunk scan and block
    merge/sort that ratio() pays for -- ~1.3x faster, asserted
    total-identical to difflib over golden + fuzz corpora in tests.
    """
    b2j: dict[str, list[int]] = {}
    for j, c in enumerate(b):
        b2j.setdefault(c, []).append(j)
    get = b2j.get
    total = 0
    stack = [(0, len(a), 0, len(b))]
    while stack:
        alo, ahi, blo, bhi = stack.pop()
        besti = alo
        bestj = blo
        bestsize = 0
        j2len: dict[int, int] = {}
        for i in range(alo, ahi):
            newj2len: dict[int, int] = {}
            j2get = j2len.get
            for j in get(a[i], ()):
                if j < blo:
                    continue
                if j >= bhi:
                    break
                k = newj2len[j] = j2get(j - 1, 0) + 1
                if k > bestsize:
                    besti = i - k + 1
                    bestj = j - k + 1
                    bestsize = k
            j2len = newj2len
        if bestsize:
            total += bestsize
            if alo < besti and blo < bestj:
                stack.append((alo, besti, blo, bestj))
            ie = besti + bestsize
            je = bestj + bestsize
            if ie < ahi and je < bhi:
                stack.append((ie, ahi, je, bhi))
    return total


def sim_ratcliff_obershelp(src: str, tar: str) -> float:
    """Ratcliff-Obershelp gestalt similarity 2M/(len_a+len_b)
    (difflib.SequenceMatcher(autojunk=False).ratio() semantics, same
    earliest-maximal-block tie-break as the published recursive
    formulation; validated against the reference's golden values)."""
    if src == tar:
        return 1.0
    if not src or not tar:
        return 0.0
    return 2.0 * _gestalt_total(src, tar) / (len(src) + len(tar))


# ---------------------------------------------------------------------------
# Multiset token metrics (padded 2-grams unless noted)
# ---------------------------------------------------------------------------


def sim_overlap(src: str, tar: str) -> float:
    if src == tar:
        return 1.0
    st = _qstats(src, tar)
    if not st.src_card or not st.tar_card:
        return 0.0
    return st.a / min(st.src_card, st.tar_card)


def sim_weighted_jaccard(src: str, tar: str, weight: float = 3.0) -> float:
    if src == tar:
        return 1.0
    st = _qstats(src, tar)
    denom = weight * st.a + st.b + st.c
    if denom == 0:
        return 0.0
    return weight * st.a / denom


def sim_dice_asymmetric_i(src: str, tar: str) -> float:
    if src == tar:
        return 1.0
    st = _qstats(src, tar)
    if st.a == 0.0:
        return 0.0
    return st.a / st.src_card


def sim_token_distance(src: str, tar: str) -> float:
    """Generic multiset sim: 1 - (b+c)/|X ∪ Y| over padded 2-grams."""
    st = _qstats(src, tar)
    if st.union == 0:
        return 0.0
    return 1.0 - (st.b + st.c) / st.union


def sim_baulieu_xiii(src: str, tar: str) -> float:
    # BaulieuXIII inherits the generic union-formula sim in the reference
    # (its dist() is never called through sim()).
    return sim_token_distance(src, tar)


def sim_bag(src: str, tar: str) -> float:
    """Union-formula sim over *character* multisets (Bag's tokenizer)."""
    st = TokenStats(char_counter(src), char_counter(tar), None)
    if st.union == 0:
        return 0.0
    return 1.0 - (st.b + st.c) / st.union


def sim_kuhns_iii(src: str, tar: str) -> float:
    # no equality shortcut: the reference computes corr even for src==tar
    # (its own golden test expects 3067/3100, not 1.0, for equal strings)
    st = _qstats(src, tar)
    a, b, c = st.a, st.b, st.c
    n = st.pop_unique
    apbmapc = (a + b) * (a + c)
    delta_ab = a if not apbmapc else a - apbmapc / n
    if not delta_ab:
        corr = 0.0
    else:
        corr = delta_ab / ((1 - a / (2 * a + b + c))
                           * (2 * a + b + c - (a + b) * (a + c) / n))
    return (1 / 3 + corr) / (4 / 3)


def sim_clement(src: str, tar: str) -> float:
    if src == tar:
        return 1.0
    st = _qstats(src, tar)
    a, b, c, d = st.a, st.b, st.c, st.d
    n = st.pop_unique
    score = 0.0
    if a + b:
        score += (a / (a + b)) * (1 - (a + b) / n)
    if c + d:
        score += (d / (c + d)) * (1 - (c + d) / n)
    return score


def sim_pearson_ii(src: str, tar: str) -> float:
    if src == tar:
        return (2 ** 0.5 / 2) * 2 / 2 ** 0.5  # == 1.0
    st = _qstats(src, tar)
    a, b, c, d = st.a, st.b, st.c, st.d
    n = st.pop_unique
    ab, ac = st.src_card, st.tar_card
    if not src or not tar:
        chi2 = 0.0
    else:
        num = n * (a * d - b * c) ** 2
        chi2 = num / (ab * ac * (b + d) * (c + d)) if num else 0.0
    score = (chi2 / (n + chi2)) ** 0.5
    return score * 2 / 2 ** 0.5


def sim_warrens_iv(src: str, tar: str) -> float:
    if src == tar:
        return 1.0
    st = _qstats(src, tar)
    a, b, c, d = st.a, st.b, st.c, st.d
    atd = a * d
    if atd:
        return (4 * atd) / (4 * atd + (a + d) * (b + c))
    return 0.0


def sim_rouge_l(src: str, tar: str, beta: float = 8.0) -> float:
    if src == tar:
        return 1.0
    if not src or not tar:
        return 0.0
    lcs_len = _lcs_len(src, tar)
    r_lcs = lcs_len / len(src)
    p_lcs = lcs_len / len(tar)
    if r_lcs and p_lcs:
        bsq = beta * beta
        return (1 + bsq) * r_lcs * p_lcs / (r_lcs + bsq * p_lcs)
    return 0.0


# ---------------------------------------------------------------------------
# Compression
# ---------------------------------------------------------------------------


def sim_ncd_bz2(src: str, tar: str, level: int = 9) -> float:
    if src == tar:
        return 1.0
    sb, tb = src.encode("utf-8"), tar.encode("utf-8")
    src_comp = bz2.compress(sb, level)[10:]
    tar_comp = bz2.compress(tb, level)[10:]
    cat = bz2.compress(sb + tb, level)[10:]
    cat2 = bz2.compress(tb + sb, level)[10:]
    dist = (min(len(cat), len(cat2)) - min(len(src_comp), len(tar_comp))) \
        / max(len(src_comp), len(tar_comp))
    return 1.0 - dist


# ---------------------------------------------------------------------------
# FuzzyWuzzy (difflib SequenceMatcher, same engine the reference uses)
# ---------------------------------------------------------------------------


@lru_cache(maxsize=65536)
def _token_sort_key(s: str) -> str:
    return " ".join(sorted(regexp_tokens(s)))


def sim_fuzzy_wuzzy_token_sort(src: str, tar: str) -> float:
    s = _token_sort_key(src)
    t = _token_sort_key(tar)
    if s == t:
        return 1.0  # ratio() of identical strings is 1.0 (incl. "" vs "")
    if len(s) >= 200 or len(t) >= 200:
        # the scalar reference uses SequenceMatcher's DEFAULT autojunk,
        # whose popularity filter activates at len(b) >= 200
        return SequenceMatcher(None, s, t).ratio()
    if not s or not t:
        return 0.0
    return 2.0 * _gestalt_total(s, t) / (len(s) + len(t))


def sim_fuzzy_wuzzy_partial_string(src: str, tar: str) -> float:
    max_sim = 0.0
    start = 0
    if len(src) > len(tar):
        src, tar = tar, src
    src_len = len(src)
    while max_sim < 1.0 and start < len(tar) - src_len + 1:
        r = SequenceMatcher(None, src, tar[start:start + src_len]).ratio()
        if r > max_sim:
            max_sim = r
        start += 1
    return max_sim


def sim_fuzzy_wuzzy_token_set(src: str, tar: str) -> float:
    src_tok = set(regexp_tokens(src))
    tar_tok = set(regexp_tokens(tar))
    inter = src_tok & tar_tok
    src_tok -= inter
    tar_tok -= inter
    # NOTE: the trailing space after the joined intersection is a quirk of
    # the published algorithm, preserved byte-for-byte.
    inter_s = " ".join(sorted(inter)) + " "
    s = inter_s + " ".join(sorted(src_tok))
    t = inter_s + " ".join(sorted(tar_tok))
    return max(
        SequenceMatcher(None, s, inter_s).ratio(),
        SequenceMatcher(None, inter_s, t).ratio(),
        SequenceMatcher(None, s, t).ratio(),
    )


# ---------------------------------------------------------------------------
# Editex (Zobel & Dart phonetic-group edit distance)
# ---------------------------------------------------------------------------

_EDITEX_GROUPS = (
    frozenset("AEIOUY"), frozenset("BP"), frozenset("CKQ"), frozenset("DT"),
    frozenset("LR"), frozenset("MN"), frozenset("GJ"), frozenset("FPV"),
    frozenset("SXZ"),
)
_EDITEX_LETTERS = frozenset("ABCDEFGIJKLMNOPQRSTUVXYZ")

# per-character group bitmask: r(a,b)=1 iff masks intersect (and a != b)
_EDITEX_MASK: dict[str, int] = {}
for _gi, _g in enumerate(_EDITEX_GROUPS):
    for _ch in _g:
        _EDITEX_MASK[_ch] = _EDITEX_MASK.get(_ch, 0) | (1 << _gi)


@lru_cache(maxsize=65536)
def _editex_prep(raw: str) -> tuple[str, tuple[int, ...], tuple[int, ...]]:
    """NFKD-uppercased string, per-char group masks, and the per-position
    delete/insert costs d(prev, cur) with a leading boundary space."""
    s = unicodedata.normalize("NFKD", raw.upper())
    masks = tuple(_EDITEX_MASK.get(c, 0) for c in s)
    costs = []
    prev = " "
    for i, cur in enumerate(s):
        if prev != cur and (prev == "H" or prev == "W"):
            costs.append(1)
        elif prev == cur:
            costs.append(0)
        elif (masks[i - 1] if i else 0) & masks[i]:
            costs.append(1)
        else:
            costs.append(2)
        prev = cur
    return s, masks, tuple(costs)


def sim_editex(src: str, tar: str) -> float:
    """Editex (Zobel-Dart) with default costs (0,1,2), normalized by
    2*max(len); DP inner loop works over precomputed group masks and
    boundary costs (cached per string)."""
    if src == tar:
        return 1.0
    norm = 2 * max(len(src), len(tar))
    if norm == 0:
        return 1.0
    s, sm, sdel = _editex_prep(src)
    t, tm, tins = _editex_prep(tar)
    if s == t:
        return 1.0
    if not s:
        return 1.0 - 2 * len(t) / norm
    if not t:
        return 1.0 - 2 * len(s) / norm
    tar_len = len(t)
    rng = range(tar_len)
    prev = [0] * (tar_len + 1)
    acc = 0
    for j in rng:
        acc += tins[j]
        prev[j + 1] = acc
    row0 = 0
    for i in range(len(s)):
        cs = s[i]
        ms = sm[i]
        dc = sdel[i]
        row0 += dc
        cur = [row0]
        cj = row0
        pj = prev[0]
        for j in rng:
            ct = t[j]
            # r-cost: 0 equal / 1 same group / 2 mismatch
            if cs == ct:
                best = pj
            elif ms & tm[j]:
                best = pj + 1
            else:
                best = pj + 2
            pj = prev[j + 1]
            o = pj + dc
            if o < best:
                best = o
            o = cj + tins[j]
            if o < best:
                best = o
            cj = best
            cur.append(best)
        prev = cur
    return 1.0 - prev[-1] / norm


# ---------------------------------------------------------------------------
# Typo (QWERTY keyboard-distance weighted edit distance)
# ---------------------------------------------------------------------------

_QWERTY = (
    (("`", "1", "2", "3", "4", "5", "6", "7", "8", "9", "0", "-", "="),
     ("", "q", "w", "e", "r", "t", "y", "u", "i", "o", "p", "[", "]", "\\"),
     ("", "a", "s", "d", "f", "g", "h", "j", "k", "l", ";", "'"),
     ("", "z", "x", "c", "v", "b", "n", "m", ",", ".", "/"),
     ("", "", "", " ")),
    (("~", "!", "@", "#", "$", "%", "^", "&", "*", "(", ")", "_", "+"),
     ("", "Q", "W", "E", "R", "T", "Y", "U", "I", "O", "P", "{", "}", "|"),
     ("", "A", "S", "D", "F", "G", "H", "J", "K", "L", ":", '"'),
     ("", "Z", "X", "C", "V", "B", "N", "M", "<", ">", "?"),
     ("", "", "", " ")),
)

_QWERTY_COORD: dict[str, tuple[int, int, int]] = {}
for _mode_i, _mode in enumerate(_QWERTY):
    for _row_i, _row in enumerate(_mode):
        for _col_i, _ch in enumerate(_row):
            if _ch and _ch not in _QWERTY_COORD:
                _QWERTY_COORD[_ch] = (_mode_i, _row_i, _col_i)


def _typo_sub_cost(c1: str, c2: str, sub_cost: float,
                   shift_cost: float) -> float:
    m1, r1, k1 = _QWERTY_COORD[c1]
    m2, r2, k2 = _QWERTY_COORD[c2]
    euclid = ((r1 - r2) ** 2 + (k1 - k2) ** 2) ** 0.5
    return sub_cost * (euclid + shift_cost * (m1 != m2))


def sim_typo(src: str, tar: str, ins_cost: float = 1.0, del_cost: float = 1.0,
             sub_cost: float = 0.5, shift_cost: float = 0.5) -> float:
    """Typo distance (QWERTY, euclidean metric, costs (1,1,.5,.5)),
    normalized by max(len).  Characters absent from the keyboard raise
    ValueError, matching the published behaviour."""
    if src == tar:
        return 1.0
    norm = max(len(src) * del_cost, len(tar) * ins_cost)
    if norm == 0:
        return 1.0
    if not src:
        return 1.0 - len(tar) * ins_cost / norm
    if not tar:
        return 1.0 - len(src) * del_cost / norm
    for ch in src + tar:
        if ch not in _QWERTY_COORD:
            raise ValueError(ch + " not found in any keyboard layouts")
    prev = [j * ins_cost for j in range(len(tar) + 1)]
    for i in range(len(src)):
        cs = src[i]
        cur = [(i + 1) * del_cost]
        for j in range(len(tar)):
            ct = tar[j]
            sub = prev[j] + (0.0 if cs == ct else
                             _typo_sub_cost(cs, ct, sub_cost, shift_cost))
            best = min(cur[j] + ins_cost, prev[j + 1] + del_cost, sub)
            cur.append(best)
        prev = cur
    return 1.0 - prev[-1] / norm


# ---------------------------------------------------------------------------
# SSK (string subsequence kernel, lambda=0.9 2-skipgrams)
# ---------------------------------------------------------------------------


@lru_cache(maxsize=16384)
def _ssk_weights(s: str, lam: float = 0.9) -> tuple[dict, float]:
    """Skip-bigram weight map: w[s[i]+s[j]] += lam^(j-i+1) for i<j, and the
    squared norm of the weight vector."""
    w: dict[str, float] = {}
    n = len(s)
    for i in range(n):
        si = s[i]
        lam_pow = lam * lam  # lam^(j-i+1) at j = i+1
        for j in range(i + 1, n):
            tok = si + s[j]
            w[tok] = w.get(tok, 0.0) + lam_pow
            lam_pow *= lam
    norm2 = 0.0
    for v in w.values():
        norm2 += v * v
    return w, norm2


def sim_ssk(src: str, tar: str, lam: float = 0.9) -> float:
    """Cosine of the SSK skip-bigram kernel vectors."""
    if src == tar:
        return 1.0
    ws, ns = _ssk_weights(src, lam)
    wt, nt = _ssk_weights(tar, lam)
    if len(wt) < len(ws):
        ws, wt = wt, ws
    score = 0.0
    for tok, v in ws.items():
        u = wt.get(tok)
        if u is not None:
            score += v * u
    if not score:
        return 0.0
    return score / (ns * nt) ** 0.5


# ---------------------------------------------------------------------------
# Phonetic: refined soundex codes compared by normalized levenshtein
# ---------------------------------------------------------------------------

_RS_TRANS = str.maketrans("ABCDEFGHIJKLMNOPQRSTUVWXYZ", "01360240043788015936020505")
_RS_ALPHA = str.maketrans("123456789", "PFKGZTLNR")
_AZ = frozenset("ABCDEFGHIJKLMNOPQRSTUVWXYZ")


@lru_cache(maxsize=65536)
def refined_soundex_alpha(word: str, max_length: int = 30) -> str:
    """Refined Soundex code, alphabetic form, per the published algorithm."""
    w = unicodedata.normalize("NFKD", word.upper())
    w = "".join(c for c in w if c in _AZ)
    sdx = w[:1] + w[1:].translate(_RS_TRANS)
    # delete consecutive repeats
    out = []
    for ch in sdx:
        if not out or out[-1] != ch:
            out.append(ch)
    sdx = "".join(out).replace("0", "")
    if max_length > 0:
        sdx = sdx[:max_length]
    code = sdx.rstrip("0")
    return code[:1] + code[1:].translate(_RS_ALPHA)


def sim_refined_soundex(src: str, tar: str) -> float:
    cs, ct = refined_soundex_alpha(src), refined_soundex_alpha(tar)
    if cs == ct:
        return 1.0
    denom = max(len(cs), len(ct))
    if denom == 0:
        return 1.0
    return 1.0 - _lev_dist_abs(cs, ct) / denom


def sim_double_metaphone(src: str, tar: str) -> float:
    """Double Metaphone codes (max_length=30) compared by normalized
    levenshtein (the reference's PhoneticDistance composition)."""
    from .phonetic import double_metaphone

    cs, ct = double_metaphone(src, 30), double_metaphone(tar, 30)
    if cs == ct:
        return 1.0
    denom = max(len(cs), len(ct))
    if denom == 0:
        return 1.0
    return 1.0 - _lev_dist_abs(cs, ct) / denom


# ---------------------------------------------------------------------------
# Registry (mirrors reference make_distance_metrics group/order semantics)
# ---------------------------------------------------------------------------

# (registry_name, group, function) in the reference's if-chain order
# (distance_metrics.py:257-431).  Group key first-insertion order defines
# score-matrix column order.
_METRIC_TABLE = [
    ("indel", "Levenshtein", sim_indel),
    ("discounted_levenshtein", "Levenshtein", sim_discounted_levenshtein),
    ("levenshtein", "Levenshtein", sim_levenshtein),
    ("jaro_winkler", "Levenshtein", sim_jaro_winkler),
    ("cormodel_z", "block", sim_cormode_lz),
    ("tichy", "block", sim_tichy),
    ("iterative_sub_string", "Subsequence", sim_iterative_sub_string),
    ("baulieu_xiii", "multiset", sim_baulieu_xiii),
    ("clement", "multiset", sim_clement),
    ("dice_asymmetrici", "multiset", sim_dice_asymmetric_i),
    ("kuhns_iii", "multiset", sim_kuhns_iii),
    ("overlap", "multiset", sim_overlap),
    ("pearson_ii", "multiset", sim_pearson_ii),
    ("weighted_jaccard", "multiset", sim_weighted_jaccard),
    ("warrens_iv", "multiset", sim_warrens_iv),
    ("bag", "multiset", sim_bag),
    ("rouge_l", "multiset", sim_rouge_l),
    ("token_distance", "multiset", sim_token_distance),
    ("ratcliff_obershelp", "Subsequence", sim_ratcliff_obershelp),
    ("ncd_bz2", "compression", sim_ncd_bz2),
    ("fuzzy_wuzzy_partial_string", "fuzzy", sim_fuzzy_wuzzy_partial_string),
    ("fuzzy_wuzzy_token_sort", "fuzzy", sim_fuzzy_wuzzy_token_sort),
    ("fuzzy_wuzzy_token_set", "fuzzy", sim_fuzzy_wuzzy_token_set),
    ("editex", "edit", sim_editex),
    ("typo", "edit", sim_typo),
    ("lig_3", "Levenshtein", sim_lig3),
    ("ssk", "Subsequence", sim_ssk),
    ("refined_soundex", "phonetic", sim_refined_soundex),
    ("double_metaphone", "phonetic", sim_double_metaphone),
]

METRIC_FUNCTIONS = {name: fn for name, _, fn in _METRIC_TABLE}

# Full parity: every metric in the reference registry is implemented.
UNIMPLEMENTED_METRICS = ()

DEFAULT_METRICS = (
    "overlap",
    "weighted_jaccard",
    "ratcliff_obershelp",
    "fuzzy_wuzzy_token_sort",
    "editex",
)


def _freeze_kwargs(v) -> tuple:
    """dict -> canonical hashable (key, value) tuple; lists become tuples
    so cost vectors etc. survive hashing/serialization unchanged."""
    def _fz(x):
        return tuple(_fz(e) for e in x) if isinstance(x, (list, tuple)) \
            else x
    return tuple(sorted((str(k), _fz(val)) for k, val in v.items()))


def normalize_metric_spec(metrics=DEFAULT_METRICS) -> tuple:
    """Canonical hashable form of a ``metrics`` argument:
    ``((name, kwargs_items), ...)``.

    Mirrors the reference registry's per-metric ``bool | dict`` surface
    (distance_metrics.py:258-430, each metric kwarg feeds the metric's
    constructor): accepts an iterable of names (default parameters), a
    mapping ``{name: True | False | dict}`` (False/None excludes, dict
    supplies per-metric kwargs threaded into the sim function), or an
    already-normalized spec (idempotent).  The result is the single
    identity used registry-wide -- including the cross-batch pair-cache
    key -- so a customized variant can never serve a default variant's
    rows or vice versa."""
    import collections.abc as _abc

    if isinstance(metrics, _abc.Mapping):
        items = []
        for name, v in metrics.items():
            if v is False or v is None:
                continue
            kw = (_freeze_kwargs(v) if isinstance(v, _abc.Mapping)
                  else ())
            items.append((str(name).lower(), kw))
        return tuple(items)
    out = []
    for m in metrics:
        if (isinstance(m, tuple) and len(m) == 2
                and isinstance(m[1], tuple)):
            out.append((str(m[0]).lower(), m[1]))
        else:
            out.append((str(m).lower(), ()))
    return tuple(out)


def _spec_dict(metrics) -> dict:
    """Validated {name: kwargs_items} from any metrics form."""
    spec = dict(normalize_metric_spec(metrics))
    unknown = set(spec) - set(METRIC_FUNCTIONS) - set(UNIMPLEMENTED_METRICS)
    if unknown:
        raise TypeError(f"Unknown distance metrics: {sorted(unknown)}")
    missing = set(spec) & set(UNIMPLEMENTED_METRICS)
    if missing:
        raise NotImplementedError(
            f"Metrics not yet ported: {sorted(missing)}")
    import inspect
    for name, kw in spec.items():
        if kw:
            params = inspect.signature(METRIC_FUNCTIONS[name]).parameters
            bad = [k for k, _ in kw if k not in params]
            if bad:
                ok = [p for p in params if p not in ("src", "tar")]
                raise TypeError(
                    f"metric {name!r} does not accept kwargs {bad}; "
                    f"supported: {ok}")
    return spec


def metric_variant_label(name: str, kwargs_items: tuple) -> str:
    """Stable per-variant column label: the bare name for defaults, the
    name plus canonical kwargs otherwise -- distinct variants get distinct
    score-matrix columns and distinct pair-cache namespaces."""
    if not kwargs_items:
        return name
    return name + "[" + ",".join(f"{k}={v!r}" for k, v in kwargs_items) \
        + "]"


def flat_metric_variants(metrics=DEFAULT_METRICS) -> list[tuple]:
    """[(name, kwargs_items, label), ...] in score-matrix column order
    (registry group first-insertion order, reference if-chain order
    within)."""
    spec = _spec_dict(metrics)
    groups: dict[str, list] = {}
    for name, group, _fn in _METRIC_TABLE:
        if name in spec:
            kw = spec[name]
            groups.setdefault(group, []).append(
                (name, kw, metric_variant_label(name, kw)))
    return [v for vs in groups.values() for v in vs]


def make_metric_registry(metrics=DEFAULT_METRICS) -> dict[str, list]:
    """Group -> [sim callables], in reference registry order.

    Accepts an iterable of metric names (case-insensitive), or the
    reference's mapping form with per-metric kwargs dicts
    (``normalize_metric_spec``): kwargs entries become closures over the
    same sim function with the kwargs bound.  Raises on unknown names,
    like the reference's TypeError path, and on kwargs the sim function
    does not accept."""
    import functools

    spec = _spec_dict(metrics)
    registry: dict[str, list] = {}
    for name, group, fn in _METRIC_TABLE:
        if name in spec:
            kw = spec[name]
            registry.setdefault(group, []).append(
                functools.partial(fn, **dict(kw)) if kw else fn)
    return registry


def flat_metric_fns(metrics=DEFAULT_METRICS) -> list:
    """Flattened metric callables in score-matrix column order."""
    registry = make_metric_registry(metrics)
    return [fn for fns in registry.values() for fn in fns]
