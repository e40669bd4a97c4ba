"""Pairwise ensemble scoring + best-match selection.

Replaces the reference's per-row Python scoring loop
(name_matcher.py:849-915 ``_score_matches``/``_rate_matches``) with one
Arrow-batched pandas UDF over the candidate-pair DataFrame followed by a
window argmax.  The UDF kernel is nm_core.metrics -- the same functions the
oracle uses -- so Spark and oracle scores are identical per pair.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

from ..nm_core.metrics import DEFAULT_METRICS, normalize_metric_spec
from .tfidf import GROUP_COL


def _str_lists(name_a: pd.Series, name_b: pd.Series):
    return ([str(a) for a in name_a], [str(b) for b in name_b])


def score_pairs_udf(metrics=DEFAULT_METRICS):
    """pandas UDF (name_a, name_b) -> array<double> of per-metric sims.

    The kernel is nm_core.metrics_batch.score_batch: numpy-vectorized
    where a batch kernel exists (editex -- the DP half of the default
    ensemble's cost), scalar metric functions elsewhere; values are
    bit-identical to the scalar oracle either way.

    ``metrics`` accepts names or the reference's per-metric kwargs
    mapping (metrics.normalize_metric_spec); the spec is normalized HERE,
    driver-side, so what ships to the workers is the canonical hashable
    form and every worker keys its pair cache identically."""
    metric_names = normalize_metric_spec(metrics)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _score(name_a: pd.Series, name_b: pd.Series) -> pd.Series:
        from ..nm_core.metrics_batch import score_batch
        a, b = _str_lists(name_a, name_b)
        return pd.Series(list(score_batch(a, b, metric_names)))

    return _score


def score_mean_udf(metrics=DEFAULT_METRICS):
    """pandas UDF (name_a, name_b) -> double mean metric score.

    Half the Arrow return volume of the array variant and no per-row list
    construction -- the default-path ranking only needs the mean
    (name_matcher.py:898).  Use score_pairs_udf when the per-metric vector
    is needed (optimiser features, return_algorithms_score parity).
    """
    metric_names = normalize_metric_spec(metrics)

    @F.pandas_udf(DoubleType())
    def _score(name_a: pd.Series, name_b: pd.Series) -> pd.Series:
        from ..nm_core.metrics_batch import score_batch
        a, b = _str_lists(name_a, name_b)
        return pd.Series(score_batch(a, b, metric_names).mean(axis=1))

    return _score


def score_candidates(
    candidates: DataFrame,
    query_name_col: str = "query_name",
    cand_name_col: str = "cand_name",
    metrics=DEFAULT_METRICS,
    keep_scores: bool = False,
) -> DataFrame:
    """Add ``mean_score`` (and, with keep_scores, the per-metric ``scores``
    array) to a candidate-pair DataFrame."""
    if keep_scores:
        udf = score_pairs_udf(metrics)
        scored = candidates.withColumn(
            "scores", udf(F.col(query_name_col), F.col(cand_name_col)))
        return scored.withColumn(
            "mean_score",
            F.aggregate("scores", F.lit(0.0), lambda acc, x: acc + x)
            / F.size("scores"),
        )
    udf = score_mean_udf(metrics)
    return candidates.withColumn(
        "mean_score", udf(F.col(query_name_col), F.col(cand_name_col)))


def postprocess_rescore(
    matches: DataFrame,
    word_set: frozenset,
    query_name_col: str = "query_name",
    cand_name_col: str = "cand_name",
    metrics=DEFAULT_METRICS,
    number_of_matches: int = 1,
    slot_col: str | None = None,
) -> DataFrame:
    """Reference postprocess (name_matcher.py:984-1009): strip no-scoring
    words (legal suffixes / corpus-common words) from the query name and
    all winning alternatives, re-score, and overwrite scores.  Matches
    stand; only scores change.  Runs on winners only (<= m rows per
    query), so the extra pass is negligible.

    number_of_matches == 1 (default): one winner per query, score :=
    100 * stripped mean -- a single vectorized UDF pass.

    number_of_matches > 1: the reference RE-RANKS the stripped scores
    across the query's alternatives (_rate_matches over the stripped
    matrix) and assigns score_i from the re-ranking, so slot i's score
    can come from a different alternative than slot i's match.  That
    cross-row dependency runs as applyInPandas per query group, slots
    ordered by ``slot_col``."""
    from ..nm_core.preprocess import strip_words

    metric_names = tuple(metrics)
    words = frozenset(word_set)

    if number_of_matches <= 1 or slot_col is None:
        @F.pandas_udf(DoubleType())
        def _rescore(name_a: pd.Series, name_b: pd.Series) -> pd.Series:
            from ..nm_core.metrics_batch import score_batch
            a2 = [strip_words(str(a), words) for a in name_a]
            b2 = [strip_words(str(b), words) for b in name_b]
            return pd.Series(100.0 * score_batch(a2, b2, metric_names)
                             .mean(axis=1))

        # nondeterministic only to pin it in place: a deterministic UDF
        # lets a later ``score > threshold`` filter be pushed below this
        # projection, which evaluates the UDF a second time for the filter
        _rescore = _rescore.asNondeterministic()
        return matches.withColumn(
            "score", _rescore(F.col(query_name_col), F.col(cand_name_col)))

    from ..nm_core.ranking import metric_group_sizes
    gs = metric_group_sizes(metric_names)
    schema = matches.schema

    def _pp(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..nm_core.metrics_batch import score_batch
        from ..nm_core.ranking import rate_matches_local
        pdf = pdf.sort_values(slot_col).reset_index(drop=True)
        org = strip_words(str(pdf[query_name_col].iloc[0]), words)
        alts = [strip_words(str(c), words) for c in pdf[cand_name_col]]
        mat = score_batch([org] * len(alts), alts, metric_names)
        ind = rate_matches_local(mat, number_of_matches, gs)
        for slot in range(min(len(ind), len(pdf))):
            pdf.loc[slot, "score"] = 100.0 * float(mat[ind[slot]].mean())
        return pdf

    return matches.groupBy(GROUP_COL, "qid").applyInPandas(_pp, schema)


def rate_matches(
    scored: DataFrame,
    number_of_matches: int,
    group_sizes: list[int],
) -> DataFrame:
    """O18 ranking variants over a scored candidate table (reference
    ``_rate_matches`` dispatch, name_matcher.py:896-913; oracle twin:
    nm_core.ranking.rate_matches_local).

    ``scored`` must carry the per-metric ``scores`` array column
    (score_candidates keep_scores=True) plus ``mean_score`` and ``rank``
    (candidate order -- np.argmax's first-maximal tie-break maps to rank
    ascending).  Returns one row per output slot with ``position`` and
    ``score`` = 100 * overall mean of the chosen candidate, mirroring
    _adjust_scores (name_matcher.py:964-982).
    """
    n_groups = len(group_sizes)
    n_metrics = int(sum(group_sizes))

    # `mid` is the tertiary tie-break: rank is unique per qid within one
    # candidate set, but preprocess_split's union-agg takes min(rank) over
    # two sets, which can collide -- mid keeps the pick deterministic
    def _argmax_by(col):
        w = Window.partitionBy(GROUP_COL, "qid").orderBy(
            col.desc(), F.col("rank").asc(), F.col("mid").asc())
        return F.row_number().over(w)

    base_cols = [c for c in scored.columns if c != "scores"]

    def _explode_slots(slot_exprs):
        """One posexplode + ONE window over (group, qid, slot) replaces the
        former n-way union of per-slot window passes (n re-scans and n
        shuffles of the scored table -- a 29-shuffle plan at the per-metric
        variant).  Same argmax semantics per slot; one shuffle total."""
        w = Window.partitionBy(GROUP_COL, "qid", "position").orderBy(
            F.col("__slot_score").desc(), F.col("rank").asc(),
            F.col("mid").asc())
        return (scored
                .select("*", F.posexplode(F.array(*slot_exprs))
                        .alias("position", "__slot_score"))
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__slot_score"))

    if number_of_matches == 1:
        picked = (scored.withColumn("__rn", _argmax_by(F.col("mean_score")))
                  .filter(F.col("__rn") == 1)
                  .withColumn("position", F.lit(0)))
    elif number_of_matches == n_groups:
        gmeans = []
        idx = 0
        for size in group_sizes:
            gmeans.append(F.expr(
                f"aggregate(slice(scores, {idx + 1}, {size}), 0D, "
                f"(acc, x) -> acc + x) / {size}"))
            idx += size
        picked = _explode_slots(gmeans)
    elif number_of_matches == n_metrics:
        picked = _explode_slots(
            [F.col("scores")[num] for num in range(n_metrics)])
    else:
        # top-m by mean; ties break on rank (deterministic stand-in for
        # the reference's unstable np.argsort ties)
        picked = (scored.withColumn("__rn", _argmax_by(F.col("mean_score")))
                  .filter(F.col("__rn") <= number_of_matches)
                  .withColumn("position", F.col("__rn") - 1))
    return (picked
            .withColumn("score", F.col("mean_score") * 100.0)
            .select(*base_cols, "position", "score"))


def best_matches(scored: DataFrame, number_of_matches: int = 1) -> DataFrame:
    """Per-query argmax (or top-m) by mean score; score scaled to 0-100.

    Mirrors _rate_matches(number_of_matches=1)/_adjust_scores
    (name_matcher.py:897-898,964-982).  Ties break on candidate rank
    (cosine order) like the oracle.
    """
    w = Window.partitionBy(GROUP_COL, "qid").orderBy(
        F.col("mean_score").desc(), F.col("rank").asc(), F.col("mid").asc())
    return (
        scored.withColumn("match_rank", F.row_number().over(w))
        .filter(F.col("match_rank") <= number_of_matches)
        .withColumn("score", F.col("mean_score") * 100.0)
    )
