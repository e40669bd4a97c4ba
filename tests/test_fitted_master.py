"""fit_master / FittedMaster reuse contract + _prepare fast-path gating."""

import pytest
from pyspark.sql import functions as F

from name_matching_spark.nm_core.preprocess import PreprocessConfig
from name_matching_spark.pipeline import (
    MatchConfig,
    _prepare,
    fit_master,
    match_names,
)


def _corpus(spark):
    masters = [(i, f"Acme Widgets Number {i} Incorporated") for i in
               range(40)]
    queries = [(i, f"Acme Widgets Number {i} Incorporatd") for i in
               range(0, 40, 2)]
    m = spark.createDataFrame(masters, "id long, name string")
    q = spark.createDataFrame(queries, "id long, name string")
    return m, q


def _rows(df):
    return sorted(
        (r["a_id"], r["b_id"], round(r["score"], 6), r["source"])
        for r in df.select("a_id", "b_id", "score", "source").collect())


@pytest.mark.parametrize("cfg", [
    MatchConfig(threshold=50.0, top_n=5, prefix_size=None),   # exact join
    MatchConfig(threshold=50.0, top_n=5, prefix_size=3),      # prefix path
], ids=["exact", "prefix"])
def test_fitted_equals_unfitted(spark, cfg):
    m, q = _corpus(spark)
    direct = match_names(spark, q, m, "id", "name", "id", "name",
                         config=cfg)
    fitted = fit_master(m, "id", "name", config=cfg)
    via_fit = match_names(spark, q, None, "id", "name",
                          config=cfg, fitted=fitted)
    assert _rows(direct) == _rows(via_fit)
    assert len(_rows(direct)) >= 20
    fitted.unpersist()


def test_fitted_prefix_candidates_equal_unfitted(spark):
    """The fit's master doc table and postings give the prefix blocker
    exactly the candidates, unrounded cosines and ranks it builds per call
    from the raw master weights."""
    from name_matching_spark.operators.blocking import prefix_filtered_top_n
    from name_matching_spark.operators.tfidf import (
        explode_char_ngrams,
        master_weights,
        query_weights,
    )

    m, q = _corpus(spark)
    cfg = MatchConfig(threshold=50.0, top_n=5, prefix_size=3)
    fitted = fit_master(m, "id", "name", config=cfg)

    def weights(side, fn):
        return fn(explode_char_ngrams(side, "id", "name_norm",
                                      cfg.ngram_range), fitted.idf)

    qw = weights(_prepare(q, "id", "name", None, cfg), query_weights)
    mw = weights(fitted.masters, master_weights)

    def cands(**master):
        return sorted(
            (r["qid"], r["mid"], repr(r["cosine"]), r["rank"])
            for r in prefix_filtered_top_n(
                qw, mw, fitted.idf, cfg.top_n, prefix_size=3,
                df_cap_frac=cfg.df_cap_frac, **master).collect())

    unfitted = cands()
    assert len(unfitted) >= 20
    assert cands(master_pref=fitted.m_pref,
                 master_map=fitted.m_map) == unfitted
    assert dict(fitted.m_map.dtypes)["mm"] == "map<int,double>"
    fitted.unpersist()


def test_fitted_grouped_matching(spark):
    """Group-blocked matching through a grouped fit equals the direct
    grouped run; a group-arity mismatch between fit and call raises
    instead of silently joining mismatched GROUP_COL values."""
    m, q = _corpus(spark)
    m_g = m.withColumn("blk", (F.col("id") % 2).cast("string"))
    q_g = q.withColumn("blk", (F.col("id") % 2).cast("string"))
    cfg = MatchConfig(threshold=50.0, top_n=5)
    direct = match_names(spark, q_g, m_g, "id", "name", "id", "name",
                         group_col_a="blk", group_col_b="blk", config=cfg)
    fitted = fit_master(m_g, "id", "name", group_col_b="blk", config=cfg)
    via_fit = match_names(spark, q_g, None, "id", "name",
                          group_col_a="blk", config=cfg, fitted=fitted)
    assert _rows(direct) == _rows(via_fit)
    with pytest.raises(ValueError, match="group mismatch"):
        match_names(spark, q, None, "id", "name", config=cfg,
                    fitted=fitted)
    # ADVICE r4: same ARITY but a different group column NAME must raise
    # too -- 'blk' values against a fit on another column near-certainly
    # equi-join mismatched domains and silently drop matches
    q_other = q_g.withColumnRenamed("blk", "region")
    with pytest.raises(ValueError, match="group mismatch"):
        match_names(spark, q_other, None, "id", "name",
                    group_col_a="region", config=cfg, fitted=fitted)
    fitted.unpersist()


def test_fitted_rejects_mismatched_config(spark):
    m, q = _corpus(spark)
    fitted = fit_master(m, "id", "name",
                        config=MatchConfig(ngram_range=(2, 3)))
    with pytest.raises(ValueError, match="different config"):
        match_names(spark, q, None, "id", "name",
                    config=MatchConfig(ngram_range=(2, 2)), fitted=fitted)
    fitted.unpersist()


def test_fit_checkpoint_reloads_without_master_rescan(spark, tmp_path):
    """A restarted driver (same checkpoint root, same config) must reload
    the fitted master artifacts from the durable store instead of
    rescanning the master table: the accumulator-tapped master source
    sees ZERO rows during the second fit, and matches are identical."""
    import pandas as pd

    from name_matching_spark.checkpoint import StageCheckpoint

    m, q = _corpus(spark)
    cfg = MatchConfig(threshold=50.0, top_n=5, prefix_size=3)
    acc = spark.sparkContext.accumulator(0)

    @F.pandas_udf("string")
    def _tap(names: pd.Series) -> pd.Series:
        acc.add(len(names))
        return names

    m_tapped = m.withColumn("name", _tap(F.col("name")))
    ck = StageCheckpoint(spark, tmp_path / "fitck", "masters_v1")
    f1 = fit_master(m_tapped, "id", "name", config=cfg, checkpoint=ck)
    first = _rows(match_names(spark, q, None, "id", "name",
                              config=cfg, fitted=f1))
    f1.unpersist()
    scans_after_first = acc.value
    assert scans_after_first >= 40

    # "restart": fresh fit against the same root -- served from parquet
    ck2 = StageCheckpoint(spark, tmp_path / "fitck", "masters_v1")
    f2 = fit_master(m_tapped, "id", "name", config=cfg, checkpoint=ck2)
    assert acc.value == scans_after_first       # zero master rescans
    again = _rows(match_names(spark, q, None, "id", "name",
                              config=cfg, fitted=f2))
    assert again == first
    f2.unpersist()

    # a DIFFERENT config must recompute, not serve the stale fit
    cfg2 = MatchConfig(threshold=50.0, top_n=5, prefix_size=3,
                       ngram_range=(2, 2))
    f3 = fit_master(m_tapped, "id", "name", config=cfg2, checkpoint=ck2)
    assert acc.value > scans_after_first
    f3.unpersist()


def test_prepare_fast_path_gated_on_config_fingerprint(spark):
    """ADVICE r3: the idempotent fast path must not fire for a side
    prepared under a DIFFERENT PreprocessConfig (or a user table that
    coincidentally carries the five prepared column names) -- those are
    re-normalized under the requested config instead of silently reused."""
    m, _ = _corpus(spark)
    cfg_default = MatchConfig()
    cfg_cased = MatchConfig(case_sensitive=True)

    prepped_default = _prepare(m, "id", "name", None, cfg_default)
    # same config -> fast path: identical plan output, still normalized
    again = _prepare(prepped_default, "id", "name_raw", None, cfg_default)
    assert again.select("name_norm").first() == \
        prepped_default.select("name_norm").first()

    # different preprocess config -> fast path must NOT fire: name_light
    # keeps case under case_sensitive, so a silent reuse would be wrong
    reprep = _prepare(prepped_default, "id", "name_raw", None, cfg_cased)
    direct = _prepare(m, "id", "name", None, cfg_cased)
    assert sorted(r["name_light"] for r in reprep.collect()) == \
        sorted(r["name_light"] for r in direct.collect())
    assert reprep.select("name_light").first()[0] != \
        prepped_default.select("name_light").first()[0]

    # column-name coincidence without the marker -> re-normalized, not
    # trusted (the raw strings here are NOT normalized output)
    fake = m.select(
        F.col("id"), F.lit("").alias("__group"),
        F.col("name").alias("name_raw"),
        F.col("name").alias("name_light"),
        F.col("name").alias("name_norm"))
    fixed = _prepare(fake, "id", "name_raw", None, cfg_default)
    assert fixed.select("name_norm").first()[0] == \
        prepped_default.select("name_norm").first()[0]


def test_prepare_fast_path_gated_on_group_identity(spark):
    """ADVICE r4 (medium): the fast path must include the GROUP identity,
    not just the preprocess config -- a table prepared ungrouped carries a
    constant dummy ``__group``, so accepting it as-is under
    ``group_col='blk'`` would silently equi-join mismatched group values
    downstream.  Re-preparation must fold the requested column in."""
    m, _ = _corpus(spark)
    m_g = m.withColumn("blk", (F.col("id") % 2).cast("string"))
    cfg = MatchConfig()

    prepped_ungrouped = _prepare(m_g, "id", "name", None, cfg)
    assert set(r["__group"] for r in
               prepped_ungrouped.select("__group").distinct().collect()) \
        == {""}

    # marker present but prepared UNGROUPED -> requesting a group must
    # fall through and re-prepare (the input still carries 'blk')
    reprep = _prepare(prepped_ungrouped.join(m_g.select("id", "blk"), "id"),
                      "id", "name_raw", "blk", cfg)
    assert set(r["__group"] for r in
               reprep.select("__group").distinct().collect()) == {"0", "1"}

    # prepared grouped under the SAME column -> fast path fires (no
    # re-run; plan output identical incl. group values)
    prepped_grouped = _prepare(m_g, "id", "name", "blk", cfg)
    again = _prepare(prepped_grouped, "id", "name_raw", "blk", cfg)
    assert sorted((r["id"], r["__group"]) for r in
                  again.select("id", "__group").collect()) == \
        sorted((r["id"], r["__group"]) for r in
               prepped_grouped.select("id", "__group").collect())

    # prepared grouped, requested ungrouped -> falls through, dummy group
    back = _prepare(prepped_grouped, "id", "name_raw", None, cfg)
    assert set(r["__group"] for r in
               back.select("__group").distinct().collect()) == {""}

    # end-to-end shape of the original report: ungrouped-prepared table
    # into fit_master(group_col_b='blk') now fits a genuinely grouped
    # master instead of a dummy-group one
    fitted = fit_master(prepped_ungrouped.join(m_g.select("id", "blk"),
                                               "id"),
                        "id", "name_raw", group_col_b="blk", config=cfg,
                        persist=False)
    assert fitted.grouped and fitted.group_col == "blk"
    assert set(r["__group"] for r in
               fitted.masters.select("__group").distinct().collect()) \
        == {"0", "1"}
