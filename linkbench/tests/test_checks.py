"""F1 and output checks on hand-made examples."""

import pytest

import checks


def test_match_f1_counts_links_against_the_true_master():
    truth_a = {"q1": 1, "q2": 2, "q3": 3, "q4": 9}   # entity 9 has no master
    master_of = {1: "m1", 2: "m2", 3: "m3"}
    links = [("q1", "m1"), ("q2", "m3"), ("q4", "m1")]
    # tp = 1 (q1); predicted = 3; true = 3 (q1, q2, q3)
    assert checks.match_counts(links, truth_a, master_of) == (1, 3, 3)
    assert checks.match_f1(links, truth_a, master_of) == pytest.approx(1 / 3)


def test_match_f1_query_without_master_is_correct_without_a_link():
    truth_a = {"q1": 1, "q2": 7}
    master_of = {1: "m1"}
    assert checks.match_f1([("q1", "m1")], truth_a, master_of) == 1.0
    assert checks.match_f1([("q1", "m1"), ("q1", "m1")], truth_a,
                           master_of) == 1.0


def test_match_f1_with_nothing_to_find_and_nothing_found():
    assert checks.match_f1([], {"q": 5}, {}) == 1.0
    assert checks.match_f1([], {"q": 1}, {1: "m"}) == 0.0


def test_cluster_f1_counts_page_pairs_with_singletons():
    truth = {"a": 1, "b": 1, "c": 1, "d": 2, "e": 3}
    # predicted: {a, b}, {c, d}, e alone (missing from the labelling)
    comp = {"a": "a", "b": "a", "c": "c", "d": "c"}
    # true pairs: ab ac bc = 3; predicted pairs: ab cd = 2; tp: ab = 1
    assert checks.cluster_counts(comp, truth) == (1, 2, 3)
    assert checks.cluster_f1(comp, truth) == pytest.approx(2 * 1 / (2 + 3))


def test_cluster_f1_perfect_and_all_singletons():
    truth = {"a": 1, "b": 1, "c": 2}
    assert checks.cluster_f1({"a": "a", "b": "a"}, truth) == 1.0
    assert checks.cluster_f1({}, {"a": 1, "b": 2}) == 1.0
    assert checks.cluster_f1({}, truth) == 0.0


def test_components_label_by_smallest_node():
    comp = checks.components([("b", "a"), ("c", "b"), ("y", "x")])
    assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_link_violations():
    names = {"q1": "Acme BV", "q2": "", "q3": "Foo"}
    rows = [("q1", "m1", "acme"), ("q1", "m1", "acme"),
            ("q2", "m2", "x"), ("q3", "m3", "")]
    v = checks.link_violations(rows, names)
    assert "duplicate link ('q1', 'm1')" in v
    assert "link on empty name ('q2', 'm2')" in v
    assert "link on empty name ('q3', 'm3')" in v
    assert checks.link_violations([("q1", "m1", "acme")], names) == []
