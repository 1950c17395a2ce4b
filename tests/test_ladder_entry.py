"""Costed entry rule of the post-filter ladder (strategies.ladder_entry):
pure integer arithmetic, no Spark. Checked by hand on the edge cases and
against the two per-backend formulas it replaced over a small grid."""

from math import comb

import pytest

from hybrid_vector_search_spark.operators.strategies import ladder_entry

K_LADDER = (200, 500, 1000)
RADII = (0, 1, 2)


def lsh_coverage(nbits):
    return lambda r: sum(comb(nbits, i) for i in range(r + 1))


def clamp_entry(ladder, k, n, n_allowed, safety=2):
    """The IVF/HNSW form: clamp(ceil(K·N·safety/|allowed|)) to the
    ladder, then the first rung at or above it."""
    if n_allowed <= 0:
        entry = ladder[-1]
    else:
        entry = -(-(k * n * safety) // n_allowed)
    entry = min(max(entry, ladder[0]), ladder[-1])
    return [r for r in ladder if r >= entry][0]


def radius_entry(radii, k, nbits, n_allowed, safety=2):
    """The LSH form: the first radius whose probe coverage reaches
    ceil(K·safety·2^nbits/|allowed|), else the last radius."""
    cov = lsh_coverage(nbits)
    if n_allowed <= 0:
        needed = cov(radii[-1]) + 1
    else:
        needed = -(-(k * safety * (1 << nbits)) // n_allowed)
    return next((r for r in radii if cov(r) >= needed), radii[-1])


# (ladder, k, |allowed|, universe, nbits or None for identity, expected)
CASES = {
    "no_allowed": (K_LADDER, 10, 0, 10_000, None, 1000),
    "negative_allowed": (K_LADDER, 10, -1, 10_000, None, 1000),
    "need_below_first": (K_LADDER, 10, 5_000, 10_000, None, 200),  # need 40
    "need_equals_first": (K_LADDER, 10, 1_000, 10_000, None, 200),  # 200
    "need_equals_middle": (K_LADDER, 10, 400, 10_000, None, 500),  # 500
    "need_just_over_middle": (K_LADDER, 10, 399, 10_000, None, 1000),
    "need_equals_last": (K_LADDER, 10, 200, 10_000, None, 1000),
    "need_above_last": (K_LADDER, 10, 100, 10_000, None, 1000),  # 2000
    # LSH, nbits=4: coverage 1, 5, 11 of 16 buckets; need = ceil(320/|allowed|)
    "lsh_no_allowed": (RADII, 10, 0, 16, 4, 2),
    "lsh_need_below_first": (RADII, 10, 1_000, 16, 4, 0),  # need 1
    "lsh_need_equals_middle": (RADII, 10, 64, 16, 4, 1),  # need 5
    "lsh_need_just_over_middle": (RADII, 10, 63, 16, 4, 2),  # need 6
    "lsh_need_equals_last": (RADII, 10, 30, 16, 4, 2),  # need 11
    "lsh_need_above_last": (RADII, 10, 29, 16, 4, 2),  # need 12
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_entry_table(case):
    ladder, k, n_allowed, universe, nbits, expected = CASES[case]
    if nbits is None:
        got = ladder_entry(ladder, k, n_allowed, universe)
    else:
        got = ladder_entry(ladder, k, n_allowed, universe, lsh_coverage(nbits))
    assert got == expected


def test_identity_coverage_matches_clamp_form():
    for ladder in (K_LADDER, (5, 10), (50, 200)):
        for k in (1, 5, 10):
            for n in (10, 600, 1_000):
                for n_allowed in range(-1, n + 1):
                    assert ladder_entry(ladder, k, n_allowed, n) == (
                        clamp_entry(ladder, k, n, n_allowed)
                    ), (ladder, k, n, n_allowed)


def test_probe_coverage_matches_radius_form():
    for nbits in (3, 4, 6):
        cov = lsh_coverage(nbits)
        for k in (1, 5, 10):
            for n_allowed in range(-1, 700):
                assert ladder_entry(
                    RADII, k, n_allowed, 1 << nbits, cov
                ) == radius_entry(RADII, k, nbits, n_allowed), (
                    nbits, k, n_allowed,
                )
