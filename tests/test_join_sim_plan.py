"""Plan-shape contracts of the set-keyed similarity join.

* Building ``join_sim`` / ``similarity_mapping`` launches no Spark job:
  the broadcast-vs-shuffle choice is made from the optimizer's size
  estimate, and set-keying is unconditional, so nothing is probed before
  the caller's action. Checked on input whose strings collapse to shared
  trigram sets and on input whose strings do not.
* ``max_token_df`` counts a token's document frequency over distinct
  right trigram SETS, so repeated (or collapsing) right strings never
  push a token over the cutoff.
"""

from __future__ import annotations

import pytest

from polars_sim_spark import join_sim
from polars_sim_spark.operators.join_sim import similarity_mapping

COLLAPSING = ["acme co 1", "acme co 2", "acme-co", "ACME acme co", "bolt nut", "bolt nut!"]
DISTINCT = ["acme corp", "bolt and nut", "widget works", "gear shop", "nut house"]


def _frames(spark, strings):
    left = spark.createDataFrame(list(enumerate(strings)), "lid long, s string")
    right = spark.createDataFrame(
        [(100 + i, s, f"p{i}") for i, s in enumerate(strings)], "rid long, s string, pay string"
    )
    return left, right


def _build_jobs(spark, group: str, build) -> tuple[int, object]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


@pytest.mark.parametrize("strings", [COLLAPSING, DISTINCT], ids=["collapsing", "distinct"])
@pytest.mark.parametrize("strategy", ["auto", "broadcast", "shuffle"])
def test_build_launches_no_job(spark, strings, strategy):
    left, right = _frames(spark, strings)
    kw = dict(top_n=2, strategy=strategy)
    n_js, js = _build_jobs(
        spark,
        f"join_sim-build-{strategy}-{len(strings)}",
        lambda: join_sim(left, right, on="s", left_id="lid", right_id="rid", **kw),
    )
    n_map, mapping = _build_jobs(
        spark,
        f"mapping-build-{strategy}-{len(strings)}",
        lambda: similarity_mapping(
            left, right, left_on="s", right_on="s", left_id="lid", right_id="rid", **kw
        ),
    )
    assert (n_js, n_map) == (0, 0)
    # and the plans are whole: every string matches at least itself
    assert {r["lid"] for r in js.collect()} == set(range(len(strings)))
    assert {r["lid"] for r in mapping.collect()} == set(range(len(strings)))


@pytest.mark.parametrize("strategy", ["auto", "broadcast", "shuffle"])
def test_max_token_df_counts_distinct_right_trigram_sets(spark, strategy):
    """Right strings "abc1", "abc2", "abc3" all tokenize to {abc}; with
    "abcx" ({abc, bcx}) the token "abc" is in 4 right rows and 4 distinct
    right strings, but in only 2 distinct right trigram sets."""
    left = spark.createDataFrame([(1, "abc")], "lid long, s string")
    right = spark.createDataFrame(
        [(10, "abc1"), (11, "abc2"), (12, "abc3"), (13, "abcx")], "rid long, s string"
    )
    kw = dict(
        left_on="s", right_on="s", top_n=10, left_id="lid", right_id="rid", strategy=strategy
    )
    kept = similarity_mapping(left, right, max_token_df=2, **kw).collect()
    assert {r["rid"] for r in kept} == {10, 11, 12, 13}
    pruned = similarity_mapping(left, right, max_token_df=1, **kw).collect()
    assert pruned == []


@pytest.mark.parametrize("strategy", ["auto", "shuffle"])
def test_boundary_ties_across_trigram_sets(spark, strategy):
    """Twenty distinct right trigram sets tie on sim with the left string
    ("abcq" + c shares only "abc" with "abcd"), each set reached by two
    strings; the top-3 must be the 3 smallest right ids over ALL tied
    rows. A set-level top-n that cut ties arbitrarily (row_number
    instead of rank) would keep 3 arbitrary sets."""
    import random

    strings = [f"abcq{c}" for c in "abcdefghijklmnopqrst"]
    strings += [s + "1" for s in strings]  # same trigram set, new string
    rids = list(range(1000, 1000 + len(strings)))
    random.Random(7).shuffle(rids)
    left = spark.createDataFrame([(1, "abcd")], "lid long, s string")
    right = spark.createDataFrame(list(zip(rids, strings)), "rid long, s string")
    got = similarity_mapping(
        left, right, left_on="s", right_on="s", top_n=3, left_id="lid", right_id="rid",
        strategy=strategy,
    ).collect()
    assert sorted(r["rid"] for r in got) == sorted(rids)[:3]


def test_tfidf_default_idf_on_uses_callers_key_name(spark):
    """The suffix rename of the right key column (``s`` → ``s_right``)
    is internal: an explicit ``idf_corpus`` without ``idf_on`` is read
    at the caller's ``right_on`` name."""
    left, right = _frames(spark, DISTINCT)
    corpus = right.select("s")
    out = join_sim(
        left, right, on="s", top_n=1, left_id="lid", right_id="rid",
        weighting="tfidf", idf_corpus=corpus,
    )
    assert {r["lid"]: r["rid"] for r in out.collect()} == {i: 100 + i for i in range(len(DISTINCT))}
