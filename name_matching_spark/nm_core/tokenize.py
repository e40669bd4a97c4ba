"""String tokenizers used by the similarity metrics.

These reproduce the tokenization semantics the reference engine relies on
(see /root/reference/distances/_q_grams.py:32-199, _whitespace.py:29,
_regexp.py:30-101, _character.py:29) re-implemented from the published
q-gram / regexp tokenizer definitions.  All functions return
``collections.Counter`` multisets (or lists where order matters).
"""

from __future__ import annotations

import re
from collections import Counter
from functools import lru_cache

_WORD_RE = re.compile(r"\w+")


@lru_cache(maxsize=65536)
def qgram_list(s: str, q: int = 2, start_stop: str = "$#") -> tuple[str, ...]:
    """Padded character q-grams as an ordered tuple.

    ``'AT' -> ('$A', 'AT', 'T#')`` for q=2, start_stop='$#'.  Empty input
    yields no tokens; strings are padded with ``start_stop[0] * (q-1)`` on
    the left and ``start_stop[-1] * (q-1)`` on the right (no padding when
    q == 1 or start_stop == '').
    """
    if not s:
        return ()
    if q == 1 or not start_stop:
        padded = s
    else:
        padded = start_stop[0] * (q - 1) + s + start_stop[-1] * (q - 1)
    if q > 1 and len(padded) < q:
        return ()
    return tuple(padded[i : i + q] for i in range(len(padded) - q + 1))


@lru_cache(maxsize=65536)
def qgram_counter(s: str, q: int = 2, start_stop: str = "$#") -> Counter:
    return Counter(qgram_list(s, q, start_stop))


@lru_cache(maxsize=65536)
def char_counter(s: str) -> Counter:
    """Character multiset (reference CharacterTokenizer)."""
    return Counter(s)


@lru_cache(maxsize=65536)
def regexp_tokens(s: str) -> tuple[str, ...]:
    r"""``\w+`` word tokens in order (reference RegexpTokenizer default)."""
    return tuple(_WORD_RE.findall(s))


# ---------------------------------------------------------------------------
# Multiset algebra over two Counters (crisp intersection semantics only --
# the reference's default; soft/fuzzy variants are never used by defaults).
# ---------------------------------------------------------------------------

class TokenStats:
    """2x2 contingency-table quantities for two token multisets.

    ``a`` = |X ∩ Y| (sum of min counts), ``b`` = |X \\ Y|, ``c`` = |Y \\ X|,
    ``d`` = alphabet-complement cardinality, ``pop`` = a+b+c+a + d (total
    multiset cardinality plus complement), matching the reference's
    population accounting (_token_distance.py:346-505).
    """

    __slots__ = ("a", "b", "c", "d", "src_card", "tar_card", "union", "pop")

    def __init__(self, x: Counter, y: Counter, alphabet: int | None):
        inter = 0
        distinct = len(x.keys() | y.keys())
        for k, vx in x.items():
            vy = y.get(k, 0)
            if vy:
                inter += vx if vx < vy else vy
        self.src_card = sum(x.values())
        self.tar_card = sum(y.values())
        self.a = float(inter)
        self.b = float(self.src_card - inter)
        self.c = float(self.tar_card - inter)
        if alphabet is None:
            self.d = 0.0
        else:
            self.d = float(max(0, alphabet - distinct))
        self.union = float(self.src_card + self.tar_card - inter)
        # population = |X + Y| + complement
        self.pop = float(self.src_card + self.tar_card) + self.d

    @property
    def pop_unique(self) -> float:
        return self.pop - self.a


QGRAM2_ALPHABET = 28 * 28  # reference default for q=2 QGrams tokenizer
