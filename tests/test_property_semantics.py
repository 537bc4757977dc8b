"""Property-based differential test: join_sim vs a pure-Python model of
the reference's vectorization semantics (SURVEY.md §1.4; reference
``src/cossim.rs:27-60``, ``python/polars_sim/dataframe/join.py:6-12``).

The 7 golden tests pin hand-computed values; hypothesis hunts the edge
semantics — digits/punctuation/uppercase dropped from the [a-z]³
vocabulary, <3-char strings vectorizing to zero, word normalization
unlocking matches, count vs l2 — on inputs nobody thought to write down.
Each example runs one tiny Spark job per strategy, so examples are few
but adversarially shrunk; a drawn ``top_n`` of 1 or 2 over strings that
share trigram sets checks the row-level (sim DESC, rid ASC) tiebreak.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from polars_sim_spark.operators.join_sim import similarity_mapping

ALPHABET = "abcdefg XY12.-é"


def model_tokens(s: str, normalize: bool) -> frozenset[str]:
    """The reference tokenizer: optional strip-non-alnum+lowercase, then
    DISTINCT char trigrams restricted to the [a-z]³ vocabulary."""
    if normalize:
        s = "".join(c for c in s if c.isascii() and c.isalnum()).lower()
    grams = {s[i : i + 3] for i in range(len(s) - 2)} if len(s) >= 3 else set()
    return frozenset(
        g for g in grams if all("a" <= c <= "z" for c in g)
    )


def model_mapping(lefts, rights, normalization, normalize_words, top_n=None):
    """{(li, ri): sim}, at most ``top_n`` per left row by (sim DESC, ri
    ASC). The l2 sim uses the engine's float expression
    k / (√|T(x)|·√|T(y)|), so equal sims tie exactly as in Spark."""
    out = {}
    for li, ls in enumerate(lefts):
        lt = model_tokens(ls, normalize_words)
        row = []
        for ri, rs in enumerate(rights):
            rt = model_tokens(rs, normalize_words)
            k = len(lt & rt)
            if k == 0:
                continue
            sim = float(k) if normalization == "count" else k / (
                math.sqrt(len(lt)) * math.sqrt(len(rt))
            )
            row.append((-sim, ri))
        row.sort()
        for neg_sim, ri in row[:top_n]:
            out[(li, ri)] = -neg_sim
    return out


# A few words, variants of them that tokenize to the SAME trigram set
# (digits, punctuation, uppercase and repeats fall outside the [a-z]³
# vocabulary) and near relatives, so the set-keyed plan's rank-tie
# expansion meets real ties.
COLLAPSING = [
    "abcde", "abcde!", "1abcde", "abcdeXY", "ab cde", "bcdefg", "bcdefg2",
    "gfedcba", "cab", "cab-cab", "Cab.cab",
]

strings = st.lists(
    st.sampled_from(COLLAPSING) | st.text(alphabet=ALPHABET, min_size=0, max_size=10),
    min_size=1,
    max_size=8,
)


@pytest.mark.parametrize(
    "normalization,normalize_words,strategy",
    [
        pytest.param("l2", False, "broadcast", id="l2-False"),
        pytest.param("count", False, "broadcast", id="count-False"),
        pytest.param("l2", True, "broadcast", id="l2-True"),
        pytest.param("l2", False, "auto", id="l2-False-auto"),
        pytest.param("l2", False, "shuffle", id="l2-False-shuffle"),
        pytest.param("count", True, "shuffle", id="count-True-shuffle"),
    ],
)
@given(lefts=strings, rights=strings, top_n=st.sampled_from([1, 2, None]))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_mapping_matches_python_model(
    spark, lefts, rights, top_n, normalization, normalize_words, strategy
):
    ldf = spark.createDataFrame(
        [(i, s) for i, s in enumerate(lefts)], "lid long, ls string"
    )
    rdf = spark.createDataFrame(
        [(i, s) for i, s in enumerate(rights)], "rid long, rs string"
    )
    got = {
        (r["lid"], r["rid"]): r["sim"]
        for r in similarity_mapping(
            ldf,
            rdf,
            left_on="ls",
            right_on="rs",
            # None keeps every match; a small top_n checks the tiebreak
            top_n=top_n or len(rights) + 1,
            normalization=normalization,
            apply_word_normalization=normalize_words,
            strategy=strategy,
            left_id="lid",
            right_id="rid",
        ).collect()
    }
    expected = model_mapping(lefts, rights, normalization, normalize_words, top_n)
    assert set(got) == set(expected), (lefts, rights, top_n)
    for pair, sim in expected.items():
        assert got[pair] == pytest.approx(sim, abs=1e-9), (pair, lefts, rights)


# ---------------------------------------------------------------------------
# sessionize vs a pure-Python gaps-and-islands model
# ---------------------------------------------------------------------------

def model_sessions(rows, gap_us):
    """rows: (user, ts_us, event_id). Returns {(user, event_id): session}."""
    out = {}
    by_user: dict = {}
    for u, t, e in rows:
        by_user.setdefault(u, []).append((t, e))
    for u, evs in by_user.items():
        evs.sort()
        sess, prev = 0, None
        for t, e in evs:
            if prev is None or t - prev > gap_us:
                sess += 1
            out[(u, e)] = sess
            prev = t
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),       # user
            st.integers(min_value=0, max_value=10_000),  # seconds offset
        ),
        min_size=1,
        max_size=25,
    ),
    gap_minutes=st.sampled_from([1, 30]),
)
def test_sessionize_matches_python_model(spark, rows, gap_minutes):
    """Differential: Spark gaps-and-islands == the obvious sequential
    model, including ties broken by event_id and boundary gaps
    (strict >). Timestamps at second granularity hunt exact-boundary
    cases the unit tests hand-pick."""
    from datetime import datetime, timezone

    from polars_sim_spark.operators.curation import sessionize

    data = [
        (u, datetime.fromtimestamp(1704067200 + sec, tz=timezone.utc), i)
        for i, (u, sec) in enumerate(rows)
    ]
    ev = spark.createDataFrame(data, "user_id long, ts timestamp, event_id long")
    got = {
        (r["user_id"], r["event_id"]): r["session_id"]
        for r in sessionize(
            ev, user_col="user_id", ts_col="ts", order_col="event_id",
            gap_minutes=gap_minutes,
        ).collect()
    }
    expected = model_sessions(
        [(u, (1704067200 + sec) * 1_000_000, i) for i, (u, sec) in enumerate(rows)],
        gap_minutes * 60 * 1_000_000,
    )
    assert got == expected


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "ab", "ba"]), min_size=0, max_size=12
        ).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_repetition_signals_matches_python_model(spark, texts):
    """repetition_signals (sort + longest-run aggregate HOFs) equals a
    direct Python evaluation on arbitrary word sequences."""
    from collections import Counter

    from polars_sim_spark.functions.text import repetition_signals

    def model(text):
        ws = text.split()
        n = len(ws)
        if n == 0:
            return (0, 0.0, 0.0, 0.0, 0)
        cnt = Counter(ws)
        bigrams = Counter(zip(ws, ws[1:]))
        run = best = 1
        for i in range(1, n):
            run = run + 1 if ws[i] == ws[i - 1] else 1
            best = max(best, run)
        return (
            n,
            round(len(cnt) / n, 6),
            round(max(cnt.values()) / n, 6),
            round(max(bigrams.values()) / (n - 1), 6) if n >= 2 else 0.0,
            best,
        )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (
            r["n_words"], r["distinct_word_frac"], r["top_word_frac"],
            r["top_bigram_frac"], r["max_word_run"],
        )
        for r in df.select(
            "doc_id", repetition_signals("text").alias("r")
        ).select("doc_id", "r.*").collect()
    }
    assert got == {i: model(t) for i, t in enumerate(texts)}
