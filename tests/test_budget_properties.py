"""Property tests for the r8 governance/recipe math: the token-budget
waterfill and the rank-formula Gini. Pure-Python mirrors of the column
expressions let hypothesis hammer the math over arbitrary mass vectors
without spinning Spark per example; a handful of fixed vectors then
cross-check the Spark frames against the mirrors.

The load-bearing waterfill claim (the operator's docstring): ONE
redistribution round conserves the budget exactly whenever the budget is
feasible. Proof sketch the test exercises: leftover = Σ_capped(target -
cap_i) and headroom_sum = Σ_uncapped(cap_i - target), so leftover ≤
headroom_sum ⇔ budget ≤ Σcaps — and when leftover ≤ headroom_sum the
proportional top-up never hits a cap, so no budget is lost to the
re-clamp. When the budget is INFEASIBLE (budget > Σcaps), every key
fills its cap instead.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mergeextractor_spark.operators.curation_queries import (
    TOKEN_BUDGET_MAX_EPOCHS,
    TOKEN_BUDGET_SHARE,
    gini_frame,
    token_budget_frame,
)


def _waterfill(masses, share, max_epochs, weights=None):
    """Python mirror of token_budget_frame's column expressions."""
    total = sum(masses)
    budget = total * share
    n = len(masses)
    if weights is None:
        targets = [budget / n] * n
    else:
        ws = sum(weights)
        targets = [budget * (w / ws) for w in weights]
    caps = [m * max_epochs for m in masses]
    alloc1 = [min(c, t) for c, t in zip(caps, targets)]
    headroom = [c - a for c, a in zip(caps, alloc1)]
    hs = sum(headroom)
    if hs > 0.0:
        leftover = budget - sum(alloc1)
        alloc = [
            min(c, a + leftover * h / hs)
            for c, a, h in zip(caps, alloc1, headroom)
        ]
    else:
        alloc = alloc1
    return alloc, caps, targets, budget


def _gini(masses):
    """Python mirror of gini_frame's rank formula."""
    xs = sorted(masses)
    n, s = len(xs), sum(xs)
    return (2.0 * sum((i + 1) * x for i, x in enumerate(xs)) - (n + 1) * s) / (n * s)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=10**9), min_size=1, max_size=50),
    st.floats(min_value=0.05, max_value=1.5),
    st.floats(min_value=0.25, max_value=4.0),
)
def test_waterfill_invariants(masses, share, max_epochs):
    alloc, caps, targets, budget = _waterfill(masses, share, max_epochs)
    eps = 1e-9 * max(budget, 1.0)
    for a, c in zip(alloc, caps):
        assert -eps <= a <= c + eps
    assert sum(alloc) <= budget + eps
    if budget <= sum(caps) + eps:
        # feasible: one round conserves the budget exactly
        assert abs(sum(alloc) - budget) <= 1e-6 * max(budget, 1.0)
    else:
        # infeasible: every key fills its cap
        for a, c in zip(alloc, caps):
            assert abs(a - c) <= eps


@settings(max_examples=300, deadline=None)
@given(st.lists(st.integers(min_value=1, max_value=10**6), min_size=1, max_size=200))
def test_gini_rank_formula_equals_mad_form(masses):
    g = _gini(masses)
    n, s = len(masses), sum(masses)
    mad = sum(abs(a - b) for a in masses for b in masses) / (n * n)
    assert abs(g - mad / (2.0 * s / n)) < 1e-9
    assert -1e-9 <= g < 1.0
    # scale invariance: Gini is about shares, not magnitudes
    assert abs(_gini([7 * m for m in masses]) - g) < 1e-9
    if len(set(masses)) == 1:
        assert abs(g) < 1e-12


@pytest.mark.parametrize(
    "masses",
    [[5], [1, 1, 1], [1, 2, 3, 1000], [7, 7, 900, 13, 2], [10, 10, 100]],
)
def test_budget_frame_matches_python_mirror(spark, masses):
    mdf = spark.createDataFrame(
        [(f"s{i:02d}", m) for i, m in enumerate(masses)],
        "lang string, lang_tokens long",
    )
    got = {r.lang: r for r in token_budget_frame(mdf).collect()}
    alloc, caps, targets, _ = _waterfill(
        masses, TOKEN_BUDGET_SHARE, TOKEN_BUDGET_MAX_EPOCHS
    )
    assert len(got) == len(masses)
    for i, m in enumerate(masses):
        r = got[f"s{i:02d}"]
        assert r.lang_tokens == m
        assert abs(r.alloc_tokens - alloc[i]) < 1e-3, (r, alloc[i])
        assert abs(r.epochs - alloc[i] / m) < 1e-3
        assert r.capped == (caps[i] < targets[i])


@pytest.mark.parametrize(
    "masses", [[5], [3, 3, 3], [1, 2, 3, 1000], [42, 17, 99, 1, 1]]
)
def test_gini_frame_matches_python_mirror(spark, masses):
    mdf = spark.createDataFrame(
        [(f"s{i:02d}", m) for i, m in enumerate(masses)],
        "source string, n_tok long",
    )
    row = gini_frame(mdf).collect()[0]
    assert row.n_sources == len(masses)
    assert row.total_tokens == sum(masses)
    assert abs(row.gini - _gini(masses)) < 1e-3
    assert abs(row.top_share - max(masses) / sum(masses)) < 1e-3


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=10**9),
            st.floats(min_value=0.01, max_value=100.0),
        ),
        min_size=1,
        max_size=40,
    ),
    st.floats(min_value=0.05, max_value=1.5),
    st.floats(min_value=0.25, max_value=4.0),
)
def test_waterfill_invariants_weighted(pairs, share, max_epochs):
    """The conservation proof is target-agnostic: with arbitrary positive
    target weights, one round still conserves a feasible budget and fills
    every cap otherwise."""
    masses = [m for m, _ in pairs]
    weights = [w for _, w in pairs]
    alloc, caps, targets, budget = _waterfill(masses, share, max_epochs, weights)
    eps = 1e-9 * max(budget, 1.0)
    for a, c in zip(alloc, caps):
        assert -eps <= a <= c + eps
    if budget <= sum(caps) + eps:
        assert abs(sum(alloc) - budget) <= 1e-6 * max(budget, 1.0)
    else:
        for a, c in zip(alloc, caps):
            assert abs(a - c) <= eps


def test_budget_frame_weighted_targets_match_mirror(spark):
    masses = [100, 200, 700, 50]
    weights = [5.0, 1.0, 1.0, 3.0]
    mdf = spark.createDataFrame(
        [(f"s{i}", m, w) for i, (m, w) in enumerate(zip(masses, weights))],
        "lang string, lang_tokens long, target_share double",
    )
    got = {r.lang: r for r in token_budget_frame(mdf).collect()}
    alloc, caps, targets, _ = _waterfill(
        masses, TOKEN_BUDGET_SHARE, TOKEN_BUDGET_MAX_EPOCHS, weights
    )
    for i in range(len(masses)):
        r = got[f"s{i}"]
        assert abs(r.alloc_tokens - alloc[i]) < 1e-3, (r, alloc[i])
        assert r.capped == (caps[i] < targets[i])


def test_budget_frame_zero_mass_key(spark):
    """An all-empty-text key (mass 0) must emit epochs 0.0 — not NULL —
    and stay capped, without disturbing the other keys' allocation."""
    mdf = spark.createDataFrame(
        [("empty", 0), ("big", 1000)], "lang string, lang_tokens long"
    )
    got = {r.lang: r for r in token_budget_frame(mdf).collect()}
    assert got["empty"].alloc_tokens == 0.0
    assert got["empty"].epochs == 0.0 and got["empty"].capped
    assert got["big"].alloc_tokens > 0


def test_gini_frame_single_source(spark):
    row = gini_frame(
        spark.createDataFrame([("only", 42)], "source string, n_tok long")
    ).collect()[0]
    assert row.gini == 0.0 and row.top_share == 1.0
