"""``tools/perf_compare.py``'s gain rule on hand-made samples (no Spark)."""

from tools.perf_compare import claim_holds

A = [2.0, 2.1, 2.2, 2.3, 2.4, 2.0, 2.1, 2.2, 2.3, 2.4]  # IQR 0.2


def test_claim_needs_nine_of_ten_and_medians_past_a_iqr():
    b = [x - 0.5 for x in A]
    assert claim_holds(A, b, wins=10, lower=True)
    assert claim_holds(A, b, wins=9, lower=True)
    assert not claim_holds(A, b, wins=8, lower=True)
    # better in every pair, but the medians sit inside A's IQR
    assert not claim_holds(A, [x - 0.1 for x in A], wins=10, lower=True)
    # a higher-is-better metric must move up
    assert not claim_holds(A, b, wins=10, lower=False)
    assert claim_holds(A, [x + 0.5 for x in A], wins=10, lower=False)
