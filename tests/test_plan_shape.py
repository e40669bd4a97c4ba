"""Executed-plan shape of the pair stages (candidates -> scoring).

Output identity is covered by the value tests and oracle hashes; these
tests lock how the pairs are partitioned: the chain from the candidate
rows to the scoring UDF must run at ``spark.sql.shuffle.partitions``
width, which AQE would otherwise shrink from the (small) candidate
shuffle's bytes, and the postprocess rescore UDF must run once."""

import re

import pytest

from name_matching_spark.pipeline import MatchConfig, fit_master, match_names


def _corpus(spark):
    masters = [(i, f"Acme Widgets Number {i} Incorporated") for i in
               range(40)]
    queries = [(i, f"Acme Widgets Number {i} Incorporatd Ltd") for i in
               range(0, 40, 2)]
    return (spark.createDataFrame(masters, "id long, name string"),
            spark.createDataFrame(queries, "id long, name string"))


def _executed(df):
    """Run ``df`` and return the root of its final physical plan."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    return plan.executedPlan() if plan.nodeName() == "AdaptiveSparkPlan" \
        else plan


def _children(node):
    if node.nodeName().endswith("QueryStage"):
        return [node.plan()]
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _label(node) -> str:
    return str(node.simpleString(25))


def _nodes(node):
    yield node
    for c in _children(node):
        yield from _nodes(c)


def _udf_nodes(root, udf: str):
    return [n for n in _nodes(root)
            if n.nodeName() == "ArrowEvalPython"
            and _label(n).startswith(f"ArrowEvalPython [{udf}(")]


def _feeding_shuffles(node, coalesced=False):
    """(exchange label, whether a coalesced AQE read lies between) for the
    first shuffle exchange on every path below ``node``; broadcast sides
    are skipped."""
    for c in _children(node):
        name, label = c.nodeName(), _label(c)
        if name in ("BroadcastExchange", "BroadcastQueryStage"):
            continue
        if name == "Exchange":
            yield label, coalesced
            continue
        yield from _feeding_shuffles(
            c, coalesced or (name == "AQEShuffleRead"
                             and "coalesced" in label))


def _assert_scored_at_full_width(spark, df):
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    (score,) = _udf_nodes(_executed(df), "_score")
    feeding = list(_feeding_shuffles(score))
    assert feeding
    for label, coalesced in feeding:
        assert re.match(r"Exchange hashpartitioning\(__group#\d+, "
                        rf"qid#\d+L?, {n}\), REPARTITION_BY_NUM",
                        label), label
        assert not coalesced, label


@pytest.mark.parametrize("prefix_size", [None, 3], ids=["exact", "prefix"])
def test_pairs_scored_at_shuffle_partition_width(spark, prefix_size):
    m, q = _corpus(spark)
    cfg = MatchConfig(threshold=50.0, top_n=5, prefix_size=prefix_size)
    _assert_scored_at_full_width(
        spark, match_names(spark, q, m, "id", "name", "id", "name",
                           config=cfg))


def test_fitted_prefix_pairs_scored_at_shuffle_partition_width(spark):
    m, q = _corpus(spark)
    cfg = MatchConfig(threshold=50.0, top_n=5, prefix_size=3)
    fitted = fit_master(m, "id", "name", config=cfg)
    try:
        _assert_scored_at_full_width(
            spark, match_names(spark, q, None, "id", "name", config=cfg,
                               fitted=fitted))
    finally:
        fitted.unpersist()


def test_legal_suffix_rescore_evaluated_once(spark):
    """The threshold filter above the rescored winners must not be pushed
    below the rescore projection, which would evaluate the UDF again."""
    m, q = _corpus(spark)
    out = match_names(spark, q, m, "id", "name", "id", "name",
                      config=MatchConfig(threshold=50.0, top_n=5,
                                         legal_suffixes=True))
    assert len(_udf_nodes(_executed(out), "_rescore")) == 1
    assert out.count() >= 20


def _master_id_aggregates(df) -> list[str]:
    return [_label(n) for n in _nodes(_executed(df))
            if n.nodeName().endswith("Aggregate")
            and "collect_list(mid" in _label(n)]


def test_fitted_prefix_call_runs_no_master_aggregation(spark):
    """A fitted prefix call reads the fit's master postings and doc table
    as they are: no aggregate of its plan collects master ids, while the
    unfitted call (the control) builds its postings with one."""
    m, q = _corpus(spark)
    cfg = MatchConfig(threshold=50.0, top_n=5, prefix_size=3)
    assert _master_id_aggregates(
        match_names(spark, q, m, "id", "name", "id", "name", config=cfg))
    fitted = fit_master(m, "id", "name", config=cfg)
    try:
        assert _master_id_aggregates(
            match_names(spark, q, None, "id", "name", config=cfg,
                        fitted=fitted)) == []
    finally:
        fitted.unpersist()
