"""End-to-end record-linkage pipeline (run_nm shape, Spark-native).

Mirrors the reference driver (/root/reference/name_matching/run_nm.py:264-380):
light normalization -> exact-match short-circuit (score 100) -> fuzzy
matching of the anti-join remainder (TF-IDF blocking + metric-ensemble
scoring) -> threshold filter; optional group-blocked matching via a block
key present on both sides (one shuffled job keyed by group -- no per-group
refit loop) -> optional transitive clustering of accepted edges.

Plan-shape notes (these matter at scale):
* All string normalization for a side happens in ONE Arrow-batched pandas
  UDF pass (light + full preprocess fused into a struct), so each input row
  crosses the JVM<->Python boundary exactly once before the scoring stage.
* Branch-shared intermediates (prepared sides, idf, candidates) are
  persisted: the exact/fuzzy branches and the idf's three consumers reuse
  one computation instead of re-deriving the lineage.
* Every stage can checkpoint to a StageCheckpoint so a killed run resumes
  from the last complete stage.
* Pair stages are sized by partition count, not bytes: the candidate rows
  are hash-partitioned by (group, qid) into spark.sql.shuffle.partitions
  partitions (operators.blocking.by_query), which AQE does not coalesce,
  and verify, top-n, the name joins and the scoring UDF reuse that
  partitioning.  Their cost is CPU per pair, and the candidate shuffle
  is too small for a byte-sized read to spread it over the task slots.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import StageCheckpoint
from .functions.extract import extract_name
from .nm_core.metrics import DEFAULT_METRICS
from .nm_core.preprocess import (
    PreprocessConfig,
    light_preprocess_name,
    pipeline_preprocess_name,
)
from .operators.blocking import cosine_top_n
from .operators.cluster import cluster_matches
from .operators.scoring import best_matches, score_candidates
from .operators.tfidf import (
    GROUP_COL,
    doc_count_table,
    explode_char_ngrams,
    idf_table,
    master_weights,
    query_weights,
    with_group,
)


@dataclass
class MatchConfig:
    top_n: int = 50
    threshold: float = 95.0
    metrics: tuple = DEFAULT_METRICS
    ngram_range: tuple = (2, 3)
    preprocess: PreprocessConfig = PreprocessConfig()
    # hot-ngram cap for the blocking join; ON by default -- the uncapped
    # exact inverted-index join is quadratic in hot n-grams and must be
    # opted into (df_cap_frac=None), never stumbled into
    df_cap_frac: float | None = 0.25
    number_of_matches: int = 1
    cache_intermediates: bool = True
    # second candidate search on common-word-reduced query names
    # (reference preprocess_split, name_matcher.py:739-747); candidate sets
    # are unioned (distinct) before scoring
    preprocess_split: bool = False
    # when set, candidate generation uses prefix-filtered blocking
    # (operators/blocking.py::prefix_filtered_top_n) -- the near-linear
    # scale path.  None = auto: the exact inverted-index join is used only
    # while every block is below ``auto_prefix_threshold`` docs on the
    # master side; bigger blocks switch to the prefix path (the plan you
    # want at 100x -- join output stays near-linear in corpus size).
    # Crossover measured on the low-entropy twin corpus: exact 23s vs
    # prefix 11s at 3k docs, 36s vs 11s at 6k, so the default switches
    # early; the exact join stays the choice only for small blocks where
    # its exhaustive candidate set is cheap anyway
    prefix_size: int | None = None
    auto_prefix_threshold: int = 4_000
    auto_prefix_size: int = 6
    # per-group plan routing when a grouped corpus has blocks on BOTH
    # sides of the threshold: big groups -> prefix, small -> exact join
    # (union of candidates).  Default on: recall on small blocks becomes
    # exact-by-construction and the per-doc cost gap (exact ~1.5x
    # cheaper on tiny blocks, measured) grows with the small-block
    # share; at the 45k-doc bench fixture the two plans measure within
    # ~5% (BENCH.md round 5).  False forces the global max-block plan.
    route_per_group: bool = True
    # postprocess word-stripped re-scoring of winners (reference
    # legal_suffixes / common_words flags, name_matcher.py:158-176,984-1009)
    legal_suffixes: bool = False
    common_words: bool = False
    cut_off_no_scoring_words: float = 0.01
    no_scoring_words: tuple = ()
    # run_nm light-preprocess sensitivity flags (run_nm.py:50-103): when a
    # flag is True the corresponding normalization is SKIPPED before the
    # exact-match join
    case_sensitive: bool = False
    punctuation_sensitive: bool = False
    special_character_sensitive: bool = False


def reduce_query_names(df: DataFrame, name_col: str = "name_norm",
                       occurrence_count: int = 3) -> DataFrame:
    """Reference _preprocess_reduce (name_matcher.py:541-572): drop words
    occurring more than ``occurrence_count`` times the count of the rarest
    word *in that string* (counts taken over the whole column).  Returns the
    input with ``name_col`` replaced by the reduced string."""
    words = df.select(
        "id", GROUP_COL,
        F.posexplode(F.split(F.col(name_col), " ")).alias("pos", "word"),
    ).filter(F.col("word") != "")
    counts = words.groupBy(GROUP_COL, "word").agg(
        F.count(F.lit(1)).alias("cnt"))
    ww = words.join(counts, [GROUP_COL, "word"])
    doc_min = ww.groupBy(GROUP_COL, "id").agg(F.min("cnt").alias("min_cnt"))
    reduced = (
        ww.join(doc_min, [GROUP_COL, "id"])
        .filter(F.col("cnt") < occurrence_count * F.col("min_cnt"))
        .groupBy(GROUP_COL, "id")
        .agg(F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("pos", "word"))),
                        lambda s: s["word"]), " ").alias("__reduced"))
    )
    return (
        df.drop(name_col)
        .join(reduced, [GROUP_COL, "id"], "left")
        .withColumn(name_col, F.coalesce(F.col("__reduced"), F.lit("")))
        .drop("__reduced")
    )


def _prepare_udf(cfg: PreprocessConfig, case_sensitive: bool = False,
                 punctuation_sensitive: bool = False,
                 special_character_sensitive: bool = False):
    """One fused pandas UDF: raw name -> (name_light, name_norm)."""

    @F.pandas_udf("name_light string, name_norm string")
    def _prep(names: pd.Series) -> pd.DataFrame:
        light = names.astype("object").map(
            lambda n: light_preprocess_name(
                n, case_sensitive=case_sensitive,
                punctuation_sensitive=punctuation_sensitive,
                special_character_sensitive=special_character_sensitive))
        norm = light.map(lambda n: pipeline_preprocess_name(n, cfg))
        return pd.DataFrame({"name_light": light, "name_norm": norm})

    return _prep


PREPARED_COLS = ("id", GROUP_COL, "name_raw", "name_light", "name_norm")
_PREP_FP_KEY = "nm_prep_fp"
_PREP_GROUP_KEY = "nm_prep_group"


def _prep_fingerprint(config: "MatchConfig") -> str:
    """Fingerprint of every config field that shapes _prepare's output."""
    from .checkpoint import fingerprint_of
    return fingerprint_of((
        "prep", config.preprocess, config.case_sensitive,
        config.punctuation_sensitive, config.special_character_sensitive))


def _prepare(df: DataFrame, id_col: str, name_col: str,
             group_col: str | None, config: "MatchConfig") -> DataFrame:
    """-> (id, __group, name_raw, name_light, name_norm); one UDF pass.

    Idempotent contract: a df that _prepare itself already normalized
    under the SAME preprocess config is accepted as-is.  That lets a
    long-lived caller (the streaming incremental matcher; any job matching
    many query sets against one master) normalize the static side ONCE --
    or load it from a StageCheckpoint (schema metadata survives the
    parquet round-trip) -- instead of re-running the pandas-UDF pass per
    micro-batch/run over a side that never changes.

    The fast path is gated on a config-fingerprint marker in the
    ``name_norm`` column metadata, NOT on column-name coincidence: a table
    prepared under a different PreprocessConfig (or a user table that
    happens to carry the five column names) falls through and is
    re-normalized from ``id_col``/``name_col`` as requested.  The marker
    also records the GROUP identity (the source column folded into
    ``__group``, or "" when prepared ungrouped): a table prepared
    ungrouped passed back with ``group_col='blk'`` (or prepared under a
    different group column) must NOT be accepted as-is -- its ``__group``
    values would silently mismatch the other side's in every downstream
    equi-join -- so it falls through and is re-prepared with the
    requested group column."""
    fp = _prep_fingerprint(config)
    if set(PREPARED_COLS) <= set(df.columns):
        meta = df.schema["name_norm"].metadata
        if (meta.get(_PREP_FP_KEY) == fp
                and meta.get(_PREP_GROUP_KEY) == (group_col or "")):
            return df.select(*PREPARED_COLS)
    out = with_group(
        df.select(F.col(id_col).alias("id"),
                  F.col(name_col).alias("name_raw"),
                  *([F.col(group_col)] if group_col else [])),
        group_col,
    )
    prep = _prepare_udf(
        config.preprocess,
        case_sensitive=config.case_sensitive,
        punctuation_sensitive=config.punctuation_sensitive,
        special_character_sensitive=config.special_character_sensitive)
    out = out.withColumn("__prep", prep(F.col("name_raw")))
    return out.select("id", GROUP_COL, "name_raw",
                      F.col("__prep.name_light").alias("name_light"),
                      F.col("__prep.name_norm").alias(
                          "name_norm", metadata={
                              _PREP_FP_KEY: fp,
                              _PREP_GROUP_KEY: group_col or ""}))


def _fit_fingerprint(config: "MatchConfig") -> str:
    """Fingerprint of every config field that shapes the fitted master-side
    artifacts (normalization, n-gram vocabulary, df cap, plan choice)."""
    from .checkpoint import fingerprint_of
    return fingerprint_of((
        "fit", _prep_fingerprint(config), config.ngram_range,
        config.df_cap_frac, config.prefix_size,
        config.auto_prefix_threshold, config.auto_prefix_size,
        config.route_per_group))


def _resolve_plan(config: "MatchConfig",
                  doc_counts: DataFrame) -> tuple[int | None,
                                                  DataFrame | None]:
    """Auto plan choice -> (prefix_size, big_groups).

    The exact inverted-index join's output is Sum_g df_q(g)*df_m(g) --
    fine for small blocks, quadratic in hot n-grams beyond ~10^4 docs
    per block.  Above the threshold, switch to the near-linear
    prefix-filtered blocker.  The probes are two tiny aggs over the
    (per-group) doc-count table, which the fit path persists anyway.

    Routing is PER-GROUP on grouped corpora: ``big_groups`` (non-None
    only when blocks land on BOTH sides of the threshold) lists the
    groups whose block size exceeds it -- those route through the prefix
    blocker, every other group keeps the exact join, and the candidate
    sets union.  Each query belongs to exactly one group, so per-qid
    top-n semantics are unaffected.  A corpus with one huge block among
    thousands of tiny ones therefore no longer pays prefix overhead on
    the tiny ones (r4 verdict item).  When every block is on one side
    (incl. the ungrouped single-block case) the plan stays global -- no
    routing joins in the common case.  An explicit ``prefix_size``
    forces the prefix path globally, as before.  Grouped-skew behavior
    is locked in tests/test_group_matching.py."""
    if config.prefix_size is not None:
        return config.prefix_size, None
    thr = config.auto_prefix_threshold
    max_block = doc_counts.agg(F.max("n_docs")).first()[0] or 0
    if max_block <= thr:
        return None, None
    if not config.route_per_group:
        return config.auto_prefix_size, None
    small = doc_counts.filter(F.col("n_docs") <= thr)
    if small.limit(1).count() == 0:
        return config.auto_prefix_size, None
    # localCheckpoint (eager): the routing table is reused by four
    # broadcast joins (q/m x semi/anti); left lazy, every one of them
    # would re-run the doc-count aggregation over the master table
    # (measured ~11s of pure overhead on a 45k-doc fixture).  Checkpoint
    # rather than persist so the blocks are RELEASED by the ContextCleaner
    # once the plan objects go unreachable -- a bare persist here leaked
    # one cached table per match_names call on skewed grouped corpora
    # (round-5 advice); the table is tiny (<= corpus/threshold rows), so
    # losing fault tolerance for it is immaterial
    big = (doc_counts.filter(F.col("n_docs") > thr).select(GROUP_COL)
           .localCheckpoint(eager=True))
    return config.auto_prefix_size, big


@dataclass
class FittedMaster:
    """Master-side fitted artifacts, built once by ``fit_master`` and
    reused across many ``match_names`` calls (the streaming foreachBatch
    loop; any job matching many query sets against one master).

    Reusing these is what keeps a 100 TB master table out of the
    per-micro-batch plan: without it every batch re-runs the master-side
    normalization UDF, n-gram explode+agg, idf aggregation, weight window
    and (on the prefix path) the doc-table/postings aggregations -- a full
    master scan+shuffle per batch for tables that never change.
    """

    masters: DataFrame            # _prepare output (PREPARED_COLS)
    doc_counts: DataFrame         # (group, n_docs)
    idf: DataFrame                # (group, ngram, idf, df, n_docs)
    m_w: DataFrame                # master weights, df-capped when cfg caps
    prefix_size: int | None       # resolved plan choice (fixed at fit time)
    m_pref: DataFrame | None      # master_postings (prefix path only)
    m_map: DataFrame | None       # master_doc_table (prefix path only)
    fit_fp: str                   # _fit_fingerprint of the fitting config
    grouped: bool = False         # fitted with a blocking-group column?
    group_col: str | None = None  # the fitting group column's NAME
    big_groups: DataFrame | None = None   # per-group routing (None=global)
    _persisted: tuple = ()

    def unpersist(self) -> None:
        for d in self._persisted:
            d.unpersist()


def fit_master(
    df_b: DataFrame,
    id_col_b: str,
    name_col_b: str,
    group_col_b: str | None = None,
    config: MatchConfig = MatchConfig(),
    persist: bool = True,
    checkpoint: StageCheckpoint | None = None,
) -> FittedMaster:
    """Build (and by default persist + materialize) every master-side
    artifact ``match_names`` needs, so subsequent calls with
    ``fitted=`` run ZERO master-side jobs -- the batch twin of fitting a
    model once and serving it.  Materialization is eager (one count per
    table) so the first micro-batch doesn't pay the fit either.

    ``checkpoint``: a StageCheckpoint (scoped here by the fit
    fingerprint, so a config change recomputes instead of serving stale
    tables) durably stores each fitted table.  A RESTARTED driver --
    e.g. the streaming linkage job relaunched against the same
    checkpoint root -- then reloads the fit from parquet/Iceberg
    without rescanning the master table at all (asserted in
    tests/test_fitted_master.py)."""
    if checkpoint is not None:
        # group_col_b is part of the fit's identity too: the same config
        # fitted under a different blocking group produces different
        # tables and must not be served from the other's checkpoint
        checkpoint = checkpoint.scoped(
            f"fit_{_fit_fingerprint(config)}_g={group_col_b}")
    persisted: list[DataFrame] = []

    def _p(stage: str, compute) -> DataFrame:
        # persist AND materialize immediately: each later artifact then
        # derives from the cached parent, so the source table is scanned
        # exactly once per fit however many artifacts stack on top
        d = (checkpoint.get_or_compute(stage, compute)
             if checkpoint is not None else compute())
        if persist:
            d = d.persist()
            d.count()
            persisted.append(d)
        return d

    b = _p("master_prepared",
           lambda: _prepare(df_b, id_col_b, name_col_b, group_col_b,
                            config))
    m_tf = explode_char_ngrams(b, "id", "name_norm", config.ngram_range)
    doc_counts = _p("master_doc_counts", lambda: doc_count_table(b, "id"))
    # checkpoint=False: the fit persists idf itself, and the fit-release
    # contract (unpersist on stream stop) must free ALL fit storage --
    # checkpoint blocks would linger until GC
    idf = _p("master_idf",
             lambda: idf_table(m_tf, doc_counts, checkpoint=False))

    def _mw():
        # capped once: fitted exact branches use cosine_top_n(master_capped=)
        m_w = master_weights(m_tf, idf)
        if config.df_cap_frac is not None:
            from .operators.blocking import cap_hot_ngrams
            m_w = cap_hot_ngrams(m_w, idf, config.df_cap_frac)
        return m_w

    m_w = _p("master_weights", _mw)
    prefix_size, big_groups = _resolve_plan(config, doc_counts)
    m_pref = m_map = None
    if prefix_size is not None:
        from .operators.blocking import master_doc_table, master_postings
        m_w_pref = m_w
        if big_groups is not None:
            # routed plan: prefix artifacts cover the big groups only --
            # small groups serve from the exact join, so their doc table
            # and postings would be dead weight in the persisted fit
            _bg = big_groups
            big_groups = _p("master_big_groups", lambda: _bg)
            m_w_pref = m_w.join(F.broadcast(big_groups), GROUP_COL,
                                "leftsemi")
        m_map = _p("master_doc_table",
                   lambda: master_doc_table(m_w_pref, idf, prefix_size,
                                            config.df_cap_frac))
        m_pref = _p("master_postings", lambda: master_postings(m_map))
    return FittedMaster(masters=b, doc_counts=doc_counts, idf=idf, m_w=m_w,
                        prefix_size=prefix_size, m_pref=m_pref, m_map=m_map,
                        fit_fp=_fit_fingerprint(config),
                        grouped=group_col_b is not None,
                        group_col=group_col_b,
                        big_groups=big_groups,
                        _persisted=tuple(persisted))


def match_names(
    spark: SparkSession,
    df_a: DataFrame,
    df_b: DataFrame | None,
    id_col_a: str,
    name_col_a: str,
    id_col_b: str = "id",
    name_col_b: str = "name_raw",
    group_col_a: str | None = None,
    group_col_b: str | None = None,
    config: MatchConfig = MatchConfig(),
    checkpoint: StageCheckpoint | None = None,
    fitted: FittedMaster | None = None,
) -> DataFrame:
    """Match every row of df_a against df_b.

    Returns (a_id, b_id, original_name, match_name, score, source) for rows
    with score > threshold; ``source`` is 'exact' or 'fuzzy'.

    ``fitted``: a ``fit_master`` bundle replaces the whole master side
    (df_b/id_col_b/name_col_b/group_col_b are then ignored and may be
    None); raises if it was fitted under a config whose master-shaping
    fields differ from ``config``.
    """
    if fitted is not None and fitted.fit_fp != _fit_fingerprint(config):
        raise ValueError(
            "FittedMaster was built under a different config (preprocess/"
            "ngram_range/df_cap_frac/prefix plan differ); refit with "
            "fit_master(config=...) matching this call's config")
    if fitted is not None and bool(group_col_a) != fitted.grouped:
        # a grouped query side against an ungrouped fit (or vice versa)
        # would equi-join mismatched GROUP_COL values and silently emit
        # nothing / cross-group garbage
        raise ValueError(
            "group mismatch: the query side "
            f"{'uses' if group_col_a else 'has no'} blocking group but the "
            f"FittedMaster was fitted "
            f"{'with' if fitted.grouped else 'without'} one; refit with a "
            "matching group_col_b")
    if (fitted is not None and group_col_a and fitted.group_col
            and group_col_a != fitted.group_col):
        # best-effort name guard: what must align is the group VALUES,
        # but a master fitted on 'country' queried with 'state' is
        # near-certainly a caller bug that would equi-join mismatched
        # values and silently drop matches.  Same-name different-values
        # remains the caller's contract.
        raise ValueError(
            f"group mismatch: FittedMaster was fitted with group_col_b="
            f"{fitted.group_col!r} but match_names was called with "
            f"group_col_a={group_col_a!r}; group values must align, so "
            "differing column names almost certainly mean a wrong fit -- "
            "refit, or rename the query column if the values really do "
            "share the master's domain")
    if checkpoint:
        # fold the resolved config into stage identity: resuming the same
        # root with a different MatchConfig must recompute, not serve
        # tables computed under the old config
        from .checkpoint import fingerprint_of
        checkpoint = checkpoint.scoped(fingerprint_of(config))
    cache = ((lambda d: d.persist()) if config.cache_intermediates
             else (lambda d: d))
    a = _prepare(df_a, id_col_a, name_col_a, group_col_a, config)
    if checkpoint:
        a = checkpoint.get_or_compute("normalized_a", lambda: a)
    else:
        a = cache(a)
    if fitted is not None:
        b = fitted.masters
    else:
        b = _prepare(df_b, id_col_b, name_col_b, group_col_b, config)
        if checkpoint:
            b = checkpoint.get_or_compute("normalized_b", lambda: b)
        else:
            b = cache(b)

    # --- exact-match short-circuit (run_nm.py:106-144) -------------------
    # empty names are excluded from the equi-join: extract_name falls back
    # to "" for pages with no recognizable name, and a shared "" key would
    # cross-join every no-name row on both sides as a score-100 "exact"
    # match AND be a pathologically hot join key
    exact = (
        a.filter(F.col("name_light") != "")
        .select(GROUP_COL, F.col("id").alias("a_id"),
                F.col("name_light").alias("original_name"), "name_light")
        .join(
            b.filter(F.col("name_light") != "")
            .select(GROUP_COL, F.col("id").alias("b_id"),
                    F.col("name_light").alias("match_name"), "name_light"),
            [GROUP_COL, "name_light"],
        )
        .select(GROUP_COL, "a_id", "b_id", "original_name", "match_name",
                F.lit(100.0).alias("score"), F.lit("exact").alias("source"))
    )
    remainder = a.join(exact.select("a_id").distinct(),
                       a["id"] == F.col("a_id"), "left_anti")

    # --- fuzzy path on the remainder -------------------------------------
    remainder = remainder.filter(F.col("name_norm") != "")
    if fitted is not None:
        doc_counts, idf, m_w = fitted.doc_counts, fitted.idf, fitted.m_w
    else:
        m_tf = explode_char_ngrams(b, "id", "name_norm", config.ngram_range)
        doc_counts = doc_count_table(b, "id")
        idf = cache(idf_table(m_tf, doc_counts))
        m_w = master_weights(m_tf, idf)
    def _qw(rem):
        return query_weights(
            explode_char_ngrams(rem, "id", "name_norm",
                                config.ngram_range), idf)

    def _candidates():
        if fitted is not None:
            prefix_size, big_groups = fitted.prefix_size, fitted.big_groups
        else:
            prefix_size, big_groups = _resolve_plan(config, doc_counts)

        # cosines are rounded to 9 decimals before ranking so candidate
        # order (and thus argmax tie-breaks between equal-scoring masters,
        # e.g. duplicate names) is independent of float summation order --
        # Spark's map-fold and the oracle's dense dot would otherwise break
        # exact ties by 1e-16 noise in opposite directions
        def _prefix(qw, mw):
            from .operators.blocking import prefix_filtered_top_n
            return prefix_filtered_top_n(
                qw, mw, idf, config.top_n,
                prefix_size=prefix_size,
                df_cap_frac=config.df_cap_frac,
                round_decimals=9,
                master_pref=fitted.m_pref if fitted is not None else None,
                master_map=fitted.m_map if fitted is not None else None)

        def _exact(qw, mw):
            return cosine_top_n(qw, mw, config.top_n, idf=idf,
                                df_cap_frac=config.df_cap_frac,
                                round_decimals=9,
                                master_capped=fitted is not None)

        if big_groups is not None:
            # per-group routing: queries in over-threshold groups take
            # the prefix blocker, the rest keep the exact join; one query
            # = one group, so the union preserves per-qid top-n
            # semantics.  The split happens at the PREPARED-rows level,
            # BEFORE the ngram explode and idf join, so each branch's
            # weight pipeline runs only over its disjoint subset --
            # routing the weight tables instead would duplicate the full
            # scan->explode->idf-join lineage into both branches (first
            # cut measured 1.5x slower than the unrouted plan from
            # exactly that).  big_groups is a per-group table
            # (<= corpus/threshold rows), so the routing semi/anti joins
            # broadcast instead of reshuffling the rows.
            big_b = F.broadcast(big_groups)
            if fitted is None:

                def _mw(side):
                    return master_weights(
                        explode_char_ngrams(
                            b.join(big_b, GROUP_COL, side),
                            "id", "name_norm", config.ngram_range), idf)

                m_w_big, m_w_small = _mw("leftsemi"), _mw("leftanti")
            else:
                # m_pref/m_map (big-only) serve the prefix branch; the
                # fitted m_w is already persisted, so the exact branch's
                # (group, ngram) join reads the cached table -- no
                # master re-scan to save by splitting it
                m_w_big, m_w_small = m_w, m_w

        def _gen(rem):
            if prefix_size is None:
                return _exact(_qw(rem), m_w)
            if big_groups is None:
                return _prefix(_qw(rem), m_w)
            qw_big = _qw(rem.join(big_b, GROUP_COL, "leftsemi"))
            qw_small = _qw(rem.join(big_b, GROUP_COL, "leftanti"))
            return _prefix(qw_big, m_w_big).unionByName(
                _exact(qw_small, m_w_small))

        cand = _gen(remainder)
        if config.preprocess_split:
            cand2 = _gen(reduce_query_names(remainder))
            # union of both candidate sets (reference hstacks positions;
            # duplicates don't change the argmax, so distinct is safe)
            cand = (cand.unionByName(cand2)
                    .groupBy(GROUP_COL, "qid", "mid")
                    .agg(F.max("cosine").alias("cosine"),
                         F.min("rank").alias("rank")))
        return cand

    candidates = (checkpoint.get_or_compute("candidates", _candidates)
                  if checkpoint else _candidates())

    pairs = (
        candidates
        .join(a.select(GROUP_COL, F.col("id").alias("qid"),
                       F.col("name_norm").alias("query_name")),
              [GROUP_COL, "qid"])
        .join(b.select(GROUP_COL, F.col("id").alias("mid"),
                       F.col("name_norm").alias("cand_name")),
              [GROUP_COL, "mid"])
    )

    # reference _rate_matches dispatch (name_matcher.py:896-913): when
    # number_of_matches equals the metric-group count or the metric count,
    # ranking is per-group / per-metric and needs the per-metric scores
    # array; otherwise the mean-only scoring UDF (half the Arrow volume)
    from .nm_core.ranking import metric_group_sizes
    group_sizes = metric_group_sizes(config.metrics)
    m = config.number_of_matches
    variant = m != 1 and (m == len(group_sizes) or m == sum(group_sizes))

    def _scored():
        return score_candidates(pairs, metrics=config.metrics,
                                keep_scores=variant)

    scored = (checkpoint.get_or_compute("scored", _scored)
              if checkpoint else _scored())

    if variant:
        from .operators.scoring import rate_matches
        winners = rate_matches(scored, m, group_sizes)
        slot_col = "position"
    else:
        winners = best_matches(scored, m)
        slot_col = "match_rank"

    # postprocess: overwrite winner scores on word-stripped names
    word_set = set(config.no_scoring_words)
    if config.legal_suffixes:
        from .nm_core.preprocess import legal_word_set
        word_set |= legal_word_set()
    if config.common_words:
        # corpus-common words from the master column, reference cutoff
        # semantics (count > max_count * cut_off); the set is small, so a
        # driver-side collect into the UDF closure is the right shape
        counts = (b.select(F.explode(F.split("name_norm", " ")).alias("w"))
                  .filter(F.col("w") != "")
                  .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
        mx = counts.agg(F.max("c")).first()[0] or 0
        word_set |= {
            r["w"] for r in counts.filter(
                F.col("c") > mx * config.cut_off_no_scoring_words).collect()
        }
    if word_set:
        from .operators.scoring import postprocess_rescore
        winners = postprocess_rescore(winners, frozenset(word_set),
                                      metrics=config.metrics,
                                      number_of_matches=m,
                                      slot_col=slot_col)

    # `position` = 0-based output slot (reference match_name_{i}): the
    # ranking-variant slot, or score rank minus one on the default path;
    # exact matches occupy slot 0
    fuzzy = (
        winners
        .select(GROUP_COL, F.col("qid").alias("a_id"),
                F.col("mid").alias("b_id"),
                F.col("query_name").alias("original_name"),
                F.col("cand_name").alias("match_name"),
                "score", F.lit("fuzzy").alias("source"),
                (F.col(slot_col) - (0 if variant else 1))
                .cast("int").alias("position"))
    )

    matches = exact.withColumn("position", F.lit(0)).unionByName(
        fuzzy).filter(F.col("score") > config.threshold)
    if checkpoint:
        matches = checkpoint.get_or_compute("matches", lambda: matches)
    return matches.drop(GROUP_COL)


def pivot_matches(matches: DataFrame, number_of_matches: int) -> DataFrame:
    """Long matches -> reference-style wide shape: one row per a_id with
    match_name_i / score_i / match_index_i columns (name_matcher.py:819-846).

    Uses the explicit ``position`` slot when present (required for the
    per-group / per-metric ranking variants, where slot order is NOT score
    order); otherwise slots are reconstructed from score order.
    """
    from pyspark.sql import Window

    if "position" in matches.columns:
        ranked = matches.withColumn("__m", F.col("position"))
    else:
        w = Window.partitionBy("a_id").orderBy(F.col("score").desc(),
                                               F.col("b_id").asc())
        ranked = matches.withColumn("__m", F.row_number().over(w) - 1)
    aggs = [F.first("original_name").alias("original_name")]
    for i in range(number_of_matches):
        aggs.extend([
            F.max(F.when(F.col("__m") == i, F.col("match_name")))
            .alias(f"match_name_{i}"),
            F.max(F.when(F.col("__m") == i, F.col("score")))
            .alias(f"score_{i}"),
            F.max(F.when(F.col("__m") == i, F.col("b_id")))
            .alias(f"match_index_{i}"),
        ])
    return ranked.groupBy("a_id").agg(*aggs)


def extract_pages_names(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang, ...) -> (url, name).

    Only url/html/text are read -- column pruning keeps the scan narrow
    (the html column is needed by the extractor itself; drop this column
    upstream if names were already extracted)."""
    return pages.select(
        "url", extract_name(F.col("html"), F.col("text")).alias("name"))


def match_pages(
    spark: SparkSession,
    pages_a: DataFrame,
    pages_b: DataFrame,
    config: MatchConfig = MatchConfig(),
    checkpoint: StageCheckpoint | None = None,
    cluster: bool = False,
) -> DataFrame:
    """BASELINE input_hint flow: extract entity names from two web-page
    tables, link them, optionally cluster accepted edges transitively."""
    a = extract_pages_names(pages_a)
    b = extract_pages_names(pages_b)
    matches = match_names(
        spark, a, b, "url", "name", "url", "name",
        config=config, checkpoint=checkpoint)
    if not cluster:
        return matches
    return cluster_matches(matches, "a_id", "b_id")
