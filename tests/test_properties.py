"""Hypothesis property tests over the pure-NumPy kernels.

These pin the invariants the engine's correctness rests on — percentile
parity with NumPy, run decomposition, discretization ranges, sessionize
monotonicity, border distances — over randomized inputs, complementing the
fixed-seed allclose fixtures.
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from z_rad_spark.kernels.firstorder import _pct_sorted
from z_rad_spark.kernels.prep import border_distance, discretize_fbn, discretize_fbs, sessionize
from z_rad_spark.kernels.texture import find_runs, glcm_count_matrix

finite_floats = st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=64)


@given(arrays(np.float64, st.integers(1, 200), elements=finite_floats),
       st.floats(0, 100))
@settings(max_examples=200, deadline=None)
def test_pct_sorted_matches_numpy(x, q):
    xs = np.sort(x)
    assert _pct_sorted(xs, q) == float(np.percentile(x, q))


@given(arrays(np.float64, st.integers(1, 100), elements=st.integers(0, 5).map(float)),
       st.integers(1, 4))
@settings(max_examples=100, deadline=None)
def test_glcm_matrix_symmetric_and_counts(g, lag):
    lvl = int(g.max()) + 1
    m = glcm_count_matrix(g, (lag,), lvl)
    assert np.array_equal(m, m.T)
    n_pairs = max(g.size - lag, 0)
    assert m.sum() == 2 * n_pairs


@given(arrays(np.float64, st.integers(1, 150), elements=st.integers(0, 4).map(float)))
@settings(max_examples=100, deadline=None)
def test_find_runs_partitions_the_sequence(g):
    session = np.zeros(g.size, dtype=np.int64)
    levels, lengths, starts, ends = find_runs(g, session)
    assert lengths.sum() == g.size
    # runs tile the sequence: consecutive, non-overlapping, level-constant
    assert starts[0] == 0 and ends[-1] == g.size - 1
    for lvl, ln, s, e in zip(levels, lengths, starts, ends):
        assert e - s + 1 == ln
        assert (g[s : e + 1] == lvl).all()
        if e + 1 < g.size:
            assert g[e + 1] != lvl


# NOTE: with arbitrary floats, (x-min)/(max-min) can ROUND to exactly 1.0
# for x just below max, making floor(N*ratio)+1 == N+1 — an edge the
# reference's formula (discretization.py:127-136) shares; we mirror it
# bit-for-bit rather than "fix" it. The property below covers the exact
# (integer-valued) regime where the range contract [1, N] provably holds.
@given(arrays(np.float64, st.integers(2, 200),
              elements=st.integers(0, 1000).map(float)),
       st.integers(1, 64))
@settings(max_examples=150, deadline=None)
def test_fbn_range_and_max_rule(x, n_bins):
    g = discretize_fbn(x, n_bins)
    assert np.nanmin(g) >= 1.0
    assert np.nanmax(g) <= float(n_bins)
    if x.max() != x.min():
        assert g[np.argmax(x)] == float(n_bins)


@given(arrays(np.float64, st.integers(1, 200), elements=finite_floats),
       st.floats(1e-3, 1e3, allow_nan=False))
@settings(max_examples=100, deadline=None)
def test_fbs_observed_min_maps_to_one(x, w):
    g = discretize_fbs(x, w)
    assert g[np.argmin(x)] == 1.0
    assert np.nanmin(g) >= 1.0


@given(st.lists(st.integers(0, 10_000_000), min_size=1, max_size=100),
       st.floats(0.5, 3600))
@settings(max_examples=100, deadline=None)
def test_sessionize_monotone_and_gap_consistent(increments, gap_s):
    ts = np.cumsum(np.array(increments, dtype=np.int64))
    s = sessionize(ts, gap_s)
    assert s[0] == 0
    d = np.diff(s)
    assert ((d == 0) | (d == 1)).all()
    gaps = np.diff(ts)
    assert ((gaps > gap_s * 1e6) == (d == 1)).all()


@given(arrays(np.bool_, st.integers(1, 120)))
@settings(max_examples=100, deadline=None)
def test_border_distance_vs_bruteforce(eligible):
    session = np.zeros(eligible.size, dtype=np.int64)
    got = border_distance(eligible, session)
    n = eligible.size
    for i in range(n):
        if not eligible[i]:
            assert got[i] == 0
            continue
        fwd = 0
        for j in range(i, -1, -1):
            if not eligible[j]:
                break
            fwd += 1
        bwd = 0
        for j in range(i, n):
            if not eligible[j]:
                break
            bwd += 1
        assert got[i] == min(fwd, bwd)
