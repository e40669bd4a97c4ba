"""NumPy oracle for the TF-IDF blocking stage.

Replicates the arithmetic of the reference blocking path exactly:
sklearn ``TfidfVectorizer(lowercase=False, analyzer="char",
ngram_range=(2,3))`` fit on master names (name_matcher.py:184-187,
1011-1029), transform + l2 + per-row sum renormalization on the master side
(name_matcher.py:1031-1042), plain l2 tf-idf on the query side
(name_matcher.py:1081-1083), then cosine top-n candidate selection
(sparse_cosine.py:58-179).

sklearn formula notes (implemented arithmetically -- sklearn isn't
installed here, and Spark ML's IDF uses a different formula):
  idf(t)  = ln((1 + n_docs) / (1 + df(t))) + 1        (smooth_idf default)
  row     = l2-normalize(tf * idf)
Divergence from the reference, by design: top-n ties broken
deterministically by (cosine DESC, master_id ASC) instead of np.argpartition
order, and no zero-padding phantom row-0 candidates for queries with fewer
than top_n nonzero cosine hits (sparse_cosine.py:91,122-124).  Both affect
only tie/edge candidates and are resolved at the *label* level by the F1
comparison.
"""

from __future__ import annotations

from collections import Counter

import numpy as np


def char_ngrams(s: str, ngram_range: tuple[int, int] = (2, 3)) -> list[str]:
    """sklearn analyzer='char' n-grams: contiguous, unpadded, whole string."""
    s = str(s)
    out: list[str] = []
    for n in range(ngram_range[0], ngram_range[1] + 1):
        if len(s) >= n:
            out.extend(s[i:i + n] for i in range(len(s) - n + 1))
    return out


class TfidfOracle:
    """Dense NumPy implementation of fit/transform/top-n."""

    def __init__(self, ngram_range: tuple[int, int] = (2, 3)):
        self.ngram_range = ngram_range
        self.vocabulary_: dict[str, int] = {}
        self.idf_: np.ndarray | None = None
        self.master_matrix_: np.ndarray | None = None

    def fit(self, docs: list[str]) -> "TfidfOracle":
        df_counter: Counter = Counter()
        for d in docs:
            df_counter.update(set(char_ngrams(d, self.ngram_range)))
        vocab = sorted(df_counter)
        self.vocabulary_ = {t: i for i, t in enumerate(vocab)}
        self.n_docs_ = len(docs)
        self.df_ = np.array([df_counter[t] for t in vocab],
                            dtype=np.float64)
        self.idf_ = np.log((1.0 + self.n_docs_) / (1.0 + self.df_)) + 1.0
        return self

    def transform(self, docs: list[str], sum_normalize: bool = False) -> np.ndarray:
        """tf-idf rows, l2-normalized; optionally sum-renormalized (master)."""
        x = np.zeros((len(docs), len(self.vocabulary_)), dtype=np.float64)
        for i, d in enumerate(docs):
            for t, c in Counter(char_ngrams(d, self.ngram_range)).items():
                j = self.vocabulary_.get(t)
                if j is not None:
                    x[i, j] = c
        x *= self.idf_
        norms = np.sqrt((x * x).sum(axis=1, keepdims=True))
        norms[norms == 0] = 1.0
        x /= norms
        if sum_normalize:
            sums = x.sum(axis=1, keepdims=True)
            sums[sums == 0] = 1.0
            x /= sums
        return x

    def fit_master(self, docs: list[str]) -> "TfidfOracle":
        self.fit(docs)
        self.master_matrix_ = self.transform(docs, sum_normalize=True)
        return self

    def top_n_prefix(
        self,
        queries: list[str],
        top_n: int = 50,
        prefix_size: int = 6,
        df_cap_frac: float | None = 0.25,
        posting_cap: int | None = 2000,
        min_docs: int = 100,
    ) -> list[list[tuple[int, float]]]:
        """Oracle twin of operators/blocking.py::prefix_filtered_top_n
        (same semantics step for step): df-capped weights, per-document
        ``prefix_size`` rarest grams (df asc, gram asc), posting lists
        truncated to the first ``posting_cap`` ids ascending on BOTH
        sides, candidates from shared prefix grams, exact cosine over the
        capped vectors, per-query (cosine DESC, master ASC) top-n."""
        q = self.transform(queries, sum_normalize=False)
        m = self.master_matrix_
        vocab_terms = sorted(self.vocabulary_)
        if df_cap_frac is not None:
            keep = self.df_ <= max(float(min_docs),
                                   self.n_docs_ * df_cap_frac)
            q = q * keep
            m = m * keep

        def prefixes(mat: np.ndarray) -> list[list[int]]:
            out = []
            for row in mat:
                nz = np.nonzero(row != 0)[0]
                ranked = sorted(nz, key=lambda j: (self.df_[j],
                                                   vocab_terms[j]))
                out.append(ranked[:prefix_size])
            return out

        q_pref = prefixes(q)
        m_pref = prefixes(m)
        m_postings: dict[int, list[int]] = {}
        for mid, grams in enumerate(m_pref):       # mid ascending
            for j in grams:
                m_postings.setdefault(j, []).append(mid)
        q_postings: dict[int, list[int]] = {}
        for qid, grams in enumerate(q_pref):
            for j in grams:
                q_postings.setdefault(j, []).append(qid)
        if posting_cap is not None:
            m_postings = {j: v[:posting_cap] for j, v in m_postings.items()}
            q_postings = {j: v[:posting_cap] for j, v in q_postings.items()}
        cand: list[set[int]] = [set() for _ in queries]
        for j, mids in m_postings.items():
            for qid in q_postings.get(j, ()):
                cand[qid].update(mids)
        results = []
        for qid, mids in enumerate(cand):
            # 9-dp rounding before ranking, like the Spark pipeline: tie
            # order must not depend on float summation order.  No cos > 0
            # filter, as in Spark: a candidate shares a capped prefix gram
            # with its query, so the raw dot is positive by construction
            scored = [(round(float(q[qid] @ m[mid]), 9), mid) for mid in mids]
            scored.sort(key=lambda t: (-t[0], t[1]))
            results.append([(mid, cos) for cos, mid in scored[:top_n]])
        return results

    def top_n(self, queries: list[str], top_n: int = 50) -> list[list[tuple[int, float]]]:
        """Per query: [(master_id, cosine)...] sorted by (-cosine, master_id),
        nonzero scores only, at most top_n."""
        q = self.transform(queries, sum_normalize=False)
        scores = q @ self.master_matrix_.T  # (n_q, n_m)
        results = []
        for row in scores:
            nz = np.nonzero(row > 0)[0]
            # 9-dp rounding before ranking (see top_n_prefix)
            order = sorted(((round(float(row[m]), 9), int(m)) for m in nz),
                           key=lambda t: (-t[0], t[1]))[:top_n]
            results.append([(m, s) for s, m in order if s > 0])
        return results
