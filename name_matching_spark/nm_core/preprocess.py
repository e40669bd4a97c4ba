"""Name-normalization kernel (reference semantics, pure Python).

Replicates the preprocessing pipeline of the reference engine
(/root/reference/name_matching/name_matcher.py:1125-1176 ``preprocess``,
:1095-1123 ``unicode_to_ascii``, :269-458 legal/common replacement rules,
/root/reference/name_matching/run_nm.py:50-103 light preprocess) as pure
string -> string functions.  These are used identically by the Spark pandas
UDFs and by the local oracle, so both sides are byte-identical per row.

Pipeline order (NameMatcher.preprocess):
  1. non-word chars ([^\\w\\-\\&\\#]) -> space, whitespace collapse, strip
  2. transliterate to ASCII (NFD + map + drop combining marks + ascii-encode)
  3. lowercase
  4. legal pre/suffix abbreviation (optional)
  5. common-word abbreviation (optional)
  6. step 1 again

The reference applies this preprocess TWICE on its uncached path
(name_matcher.py:705,728), so the operative composition for parity is
``pipeline_preprocess_name`` = f(f(x)) where the second application is
observable.  For every shipped config except ``delete_legal`` a single
application stabilizes (f(f(x)) == f(x) on f-outputs, property-tested), so
the pipeline pays the second pass only under ``delete_legal``: its
begin-anchored deletion leaves a leading space that blocks later rules in
the SAME pass, so each full pass strips at most one more stacked leading
legal token ('Sa:ss:ss#' -> 'ss ss#' -> 'ss#').  NO finite composition is
a fixpoint for arbitrarily stacked tokens (the reference has the same
behavior); parity only requires matching the reference's two passes.
"""

from __future__ import annotations

import re
import unicodedata
from dataclasses import dataclass, field
from functools import lru_cache

from .data import TRANSLITERATION_MAP, common_words, legal_forms

_NON_WORD_RE = re.compile(r"[^\w\-\&\#]")
_WS_RE = re.compile(r"\s+")
_PUNCT_RE = re.compile(r"[^\w\s]")


def clean_non_word(name: str) -> str:
    """Non-word chars (keeping - & #) to space; collapse whitespace; strip."""
    return _WS_RE.sub(" ", _NON_WORD_RE.sub(" ", name)).strip()


def unicode_to_ascii(text: str) -> str:
    """NFD-decompose, map special chars, drop combining marks, ASCII-encode."""
    normalized = unicodedata.normalize("NFD", text)
    return (
        "".join(
            TRANSLITERATION_MAP.get(ch, ch)
            for ch in normalized
            if unicodedata.category(ch) != "Mn"
        )
        .encode("ascii", "ignore")
        .decode()
    )


# ---------------------------------------------------------------------------
# Replacement-rule machinery (legal suffixes / common words)
# ---------------------------------------------------------------------------


def _generate_combinations(list_a: list[str], list_b: list[str]) -> list[list[str]]:
    """All element-wise choices between two aligned lists (2^n options)."""
    results: list[list[str]] = []

    def rec(a: list[str], b: list[str], ind: int, acc: list[str]) -> None:
        if ind == len(a):
            results.append(acc)
            return
        rec(a, b, ind + 1, acc + [a[ind]])
        rec(b, a, ind + 1, acc + [b[ind]])

    rec(list_a, list_b, 0, [])
    return results


def _combine_legal_words(abbr: list[str], lgl: list[str]) -> list[str]:
    """Regroup full-name words so they align 1:1 with abbreviation parts."""
    ind = 0
    new_lgl: list[str] = []
    combined = ""
    for letter in abbr:
        while ind < len(lgl) and not lgl[ind].startswith(letter):
            combined += " " + lgl[ind]
            ind += 1
        if ind < len(lgl) and lgl[ind].startswith(letter):
            if combined:
                new_lgl.append(combined.strip())
            combined = lgl[ind]
            ind += 1
    if combined:
        new_lgl.append(combined.strip())
    return new_lgl


def expand_legal_rules(
    forms: list[tuple[str, str]] | None = None,
    non_word_characters: bool = True,
) -> list[tuple[str, str]]:
    """Expand (abbreviation, full_name) pairs into an ordered replacement
    rule list [(abbreviation, variant_long_form), ...].

    For each pair, every element-wise mixture of abbreviation parts and
    full-name words is generated (so "besloten vennootschap"/"b.v." also
    matches "b vennootschap" and "besloten v"), plus the concatenated
    abbreviation itself ("bv").  Rule order preserves input order, which the
    replacement pass depends on.
    """
    rules: list[tuple[str, str]] = []
    for abbreviation, full_name in (forms if forms is not None else legal_forms()):
        abbr = [p for p in re.split(r"[. /]", abbreviation.strip().lower()) if p]
        lgl = full_name.lower().strip().split(" ")
        if len(abbr) == len(lgl):
            options: list = _generate_combinations(abbr, lgl)
        elif len(abbr) < len(lgl):
            new_lgl = _combine_legal_words(abbr, lgl)
            if len(new_lgl) == len(abbr):
                options = _generate_combinations(abbr, new_lgl)
            else:
                options = [full_name]
        else:
            options = [full_name]
        options.append("".join(abbr))
        for option in options:
            text = option.strip() if isinstance(option, str) \
                else " ".join(option).strip()
            rules.append((abbreviation.lower(), text))
            if not non_word_characters and not isinstance(option, str):
                rules.append((abbreviation.lower(),
                              ".".join(option).strip() + "."))
    return rules


def replace_rules(
    name: str,
    rules: list[tuple[str, str]],
    begin_end: bool = True,
    delete: bool = False,
) -> str:
    """Apply (abbreviation, long_form) rules in order.

    begin_end=True replaces only at string start/end (legal suffix mode);
    begin_end=False replaces every whole-word occurrence (common-word mode).

    Matched text is treated as literal (re.escape); the reference interpolates
    it unescaped (name_matcher.py:298-315), which would misfire or throw on
    dictionary rows containing regex metacharacters (e.g. legal_names.csv
    "professional limited liability co. ").  Replacement goes through a
    callable so backslashes in rule text can never be interpreted.
    """
    if delete:
        rules = sorted(rules, key=lambda r: len(r[1]), reverse=True)
    if begin_end:
        for abbreviation, long_name in rules:
            if name.startswith(long_name) or name.endswith(long_name):
                repl = "" if delete else abbreviation
                pat = re.escape(long_name)
                name = re.sub(rf"\b{pat}$", lambda _m: repl, name)
                name = re.sub(rf"^{pat}\b", lambda _m: repl, name)
    else:
        for abbreviation, long_name in rules:
            if long_name in name:
                repl = "" if delete else abbreviation
                name = re.sub(rf"\b{re.escape(long_name)}\b", lambda _m: repl, name)
    return name


# ---------------------------------------------------------------------------
# Fast rule application (exact-equivalent, precompiled)
# ---------------------------------------------------------------------------

_WORD_RUN_RE = re.compile(r"\w+")


class CompiledRules:
    """Precompiled rule structures for the hot per-row path.

    * Common words: the reference applies 776 sequential ``\\bword\\b``
      passes (name_matcher.py:317-348).  When every rule word is a pure
      ``\\w+`` token with no duplicate words and no rule word occurring
      inside any short form (all three hold for the shipped table, asserted
      in tests), one pass replacing each maximal word-run via dict lookup is
      exactly equivalent — O(len(name)) instead of O(rules x len(name)).
    * Legal suffixes: sequential order is semantic (each applied rule edits
      the name seen by later rules), so the loop is kept, but rules are
      bucketed by first/last character of the matched text: a rule can only
      fire when name.startswith/endswith(long_name), which requires
      first-char or last-char equality, so non-bucket rules are skipped
      without the two string compares.
    """

    __slots__ = ("legal_rules", "legal_by_first", "legal_by_last",
                 "common_rules", "common_word_map")

    def __init__(self, legal_rules, common_rules):
        self.legal_rules = list(legal_rules)
        self.legal_by_first: dict[str, list[int]] = {}
        self.legal_by_last: dict[str, list[int]] = {}
        for i, (_abbr, long_name) in enumerate(self.legal_rules):
            if not long_name:
                continue
            self.legal_by_first.setdefault(long_name[0], []).append(i)
            self.legal_by_last.setdefault(long_name[-1], []).append(i)
        self.common_rules = list(common_rules)
        word_map: dict[str, str] | None = {}
        seen_words = set()
        for word, short in self.common_rules:
            if _WORD_RUN_RE.fullmatch(word) is None or word in seen_words:
                word_map = None
                break
            seen_words.add(word)
            word_map[word] = short
        if word_map is not None:
            # a short form containing a rule word as a word-run would let a
            # later sequential pass rewrite an earlier replacement
            for _w, short in self.common_rules:
                if any(run in seen_words
                       for run in _WORD_RUN_RE.findall(short)):
                    word_map = None
                    break
        self.common_word_map = word_map

    def apply_legal(self, name: str, delete: bool = False) -> str:
        """Begin/end legal replacement, rule order preserved, bucket-gated."""
        if delete:
            # delete mode re-sorts rules by length (reference
            # name_matcher.py:407-408); rare path, use the generic loop
            return replace_rules(name, self.legal_rules,
                                 begin_end=True, delete=True)
        pos = 0
        while True:
            if not name:
                return name
            cands = sorted(
                set(self.legal_by_first.get(name[0], ()))
                | set(self.legal_by_last.get(name[-1], ())))
            changed = False
            for idx in cands:
                if idx < pos:
                    continue
                abbreviation, long_name = self.legal_rules[idx]
                if name.startswith(long_name) or name.endswith(long_name):
                    pat = re.escape(long_name)
                    new = re.sub(rf"\b{pat}$", lambda _m: abbreviation, name)
                    new = re.sub(rf"^{pat}\b", lambda _m: abbreviation, new)
                    if new != name:
                        # name edges changed: later rules must see the new
                        # name, so rebuild the candidate list from idx+1
                        name = new
                        pos = idx + 1
                        changed = True
                        break
            if not changed:
                return name

    def apply_common(self, name: str) -> str:
        """Whole-word common-word abbreviation (single pass when safe)."""
        if self.common_word_map is not None:
            wm = self.common_word_map
            return _WORD_RUN_RE.sub(
                lambda m: wm.get(m.group(0), m.group(0)), name)
        return replace_rules(
            name, [(sf, w) for w, sf in self.common_rules], begin_end=False)


# ---------------------------------------------------------------------------
# Full pipeline
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class PreprocessConfig:
    """Preprocessing flags, mirroring NameMatcher's constructor defaults."""

    lowercase: bool = True
    non_word_characters: bool = True
    remove_ascii: bool = True
    preprocess_legal: bool = False
    delete_legal: bool = False
    make_abbreviations: bool = True
    begin_end_legal: bool = True
    legal_rules: tuple = field(default=None)
    common_rules: tuple = field(default=None)

    def resolved_legal_rules(self) -> list[tuple[str, str]]:
        if self.legal_rules is not None:
            return list(self.legal_rules)
        return expand_legal_rules(non_word_characters=self.non_word_characters)

    def resolved_common_rules(self) -> list[tuple[str, str]]:
        if self.common_rules is not None:
            return list(self.common_rules)
        return common_words()


@lru_cache(maxsize=8)
def _compiled_rules(cfg: PreprocessConfig) -> CompiledRules:
    return CompiledRules(cfg.resolved_legal_rules(), cfg.resolved_common_rules())


def preprocess_name(name: str, cfg: PreprocessConfig = PreprocessConfig()) -> str:
    """Full NameMatcher-style normalization of one name (idempotent)."""
    # NULL is "no name", not the string "None" (which would become a hot
    # shared join key across all null rows)
    name = "" if name is None else str(name)
    if cfg.non_word_characters:
        name = clean_non_word(name)
    if cfg.remove_ascii:
        name = unicode_to_ascii(name)
    if cfg.lowercase:
        name = name.lower()
    if cfg.preprocess_legal or cfg.make_abbreviations:
        compiled = _compiled_rules(cfg)
        if cfg.preprocess_legal:
            if cfg.begin_end_legal:
                name = compiled.apply_legal(name, delete=cfg.delete_legal)
            else:
                name = replace_rules(name, compiled.legal_rules,
                                     begin_end=False,
                                     delete=cfg.delete_legal)
        if cfg.make_abbreviations:
            name = compiled.apply_common(name)
    if cfg.non_word_characters:
        name = clean_non_word(name)
    return name


def pipeline_preprocess_name(
    name: str, cfg: PreprocessConfig = PreprocessConfig()
) -> str:
    """The operative composition used by the matching pipeline and oracle:
    the reference applies ``preprocess`` twice on its uncached path
    (name_matcher.py:705,728).  For every config except ``delete_legal``
    the second application is a no-op on first-pass output (stabilization
    property, tests/test_properties.py), so it is paid only when
    ``delete_legal`` makes it observable (see module docstring)."""
    out = preprocess_name(name, cfg)
    if cfg.delete_legal:
        out = preprocess_name(out, cfg)
    return out


def light_preprocess_name(
    name: str,
    case_sensitive: bool = False,
    punctuation_sensitive: bool = False,
    special_character_sensitive: bool = False,
) -> str:
    """run_nm-style light normalization used before the exact-match join
    (run_nm.py:50-103): lower+strip, strip punctuation, NFKD-ascii."""
    name = "" if name is None else str(name)
    if not case_sensitive:
        name = name.lower().strip()
    if not punctuation_sensitive:
        name = _PUNCT_RE.sub("", name)
    if not special_character_sensitive:
        name = unicodedata.normalize("NFKD", name) \
            .encode("ascii", "ignore").decode()
    return name


# ---------------------------------------------------------------------------
# No-scoring word sets (postprocess)
# ---------------------------------------------------------------------------


def legal_word_set(forms: list[tuple[str, str]] | None = None) -> set[str]:
    """Abbreviations used as no-scoring words (name_matcher.py:1199-1218)."""
    return {a for a, _ in (forms if forms is not None else legal_forms())}


def common_word_set(names: list[str], cut_off: float = 0.01) -> set[str]:
    """Words occurring more than cut_off * max-count across names
    (name_matcher.py:1220-1246)."""
    counts: dict[str, int] = {}
    for n in names:
        for w in str(n).split():
            counts[w] = counts.get(w, 0) + 1
    if not counts:
        return set()
    mx = max(counts.values())
    return {w for w, c in counts.items() if c > mx * cut_off}


@lru_cache(maxsize=8)
def _strip_patterns(words: frozenset) -> tuple:
    return tuple((w, re.compile(rf"\b{re.escape(w)}\b"))
                 for w in sorted(words))


def strip_words(name: str, word_set) -> str:
    """Remove whole-word occurrences of word_set from name, collapse spaces
    (name_matcher.py:937-962).  Iterates in sorted order so the result is
    deterministic across processes (the reference iterates a raw set,
    whose order is arbitrary).

    Equal to removing every word in turn and collapsing spaces after each
    removal, but cheap for large sets: spaces are collapsed once up front
    (each removal keeps them collapsed), and a word is only applied when
    it is a substring of the current name -- ``\\bword\\b`` cannot match
    otherwise."""
    if not word_set:
        return name
    name = " ".join(name.split())
    for word, pattern in _strip_patterns(frozenset(word_set)):
        if word in name:
            name = " ".join(pattern.sub("", name).split())
    return name
