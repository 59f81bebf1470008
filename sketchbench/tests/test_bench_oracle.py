"""The oracle flags injected false negatives and wrong rows."""

from __future__ import annotations

from sketchbench.oracle import (
    Checks, check_deletes, check_fpr, check_pairs, check_probe, check_quantiles,
    check_rows, check_survivors, jaccard,
)

TRUTH = {"n_members": 800, "n_negatives": 800, "n_deleted": 100}


def _probe(member_hits_kept=700, member_hits_deleted=100, fp=0):
    return {0: (800, fp), 1: (700, member_hits_kept), 2: (100, member_hits_deleted)}


def test_probe_clean_run_passes():
    chk = Checks()
    fp = check_probe(chk, TRUTH, _probe(fp=2), _probe(member_hits_deleted=1))
    assert fp == 2 and chk.failed == 0


def test_probe_flags_injected_false_negative():
    chk = Checks()
    check_probe(chk, TRUTH, _probe(member_hits_kept=699), _probe())
    assert chk.failed == 1
    chk = Checks()  # a kept member lost by the delete
    check_probe(chk, TRUTH, _probe(), _probe(member_hits_kept=699))
    assert chk.failed == 1


def test_deletes_flag_injected_noop_delete():
    chk = Checks()  # bound at f=12 on 100 deleted keys: ceiling ~3.2 hits
    check_deletes(chk, TRUTH, _probe(member_hits_deleted=1), 100, 0, 12)
    assert chk.failed == 0
    chk = Checks()  # a no-op delete: nothing removed, every deleted key hits
    check_deletes(chk, TRUTH, _probe(), 0, 0, 12)
    assert chk.failed == 101
    chk = Checks()  # keys reported not found
    check_deletes(chk, TRUTH, _probe(member_hits_deleted=0), 97, 3, 12)
    assert chk.failed == 6


def test_fpr_above_bound_is_flagged():
    chk = Checks()  # bound at f=12 is 8/4096: ~1.6 expected in 800
    assert check_fpr(chk, "fpr", 2, 800, 12) == 2 / 800 / (8 / 4096)
    assert chk.failed == 0
    check_fpr(chk, "fpr", 40, 800, 12)
    assert chk.failed == 1


def test_rows_flag_injected_wrong_row():
    want = [(1, 3), (2, 1), (5, 8)]
    chk = Checks()
    check_rows(chk, "rows", want, list(reversed(want)))
    assert chk.failed == 0
    chk = Checks()
    check_rows(chk, "rows", want, [(1, 3), (2, 2), (5, 8)])
    assert chk.failed == 2  # one row missing, one row extra
    chk = Checks()
    check_rows(chk, "rows", want, want + [(5, 8)])
    assert chk.failed == 1  # a duplicated row


def test_pairs_below_threshold_and_missed_planted_pairs():
    base = " ".join(f"w{i}" for i in range(40))
    near = base.replace("w20", "x20")
    other = " ".join(f"v{i}" for i in range(40))
    texts = {1: base, 2: near, 3: other}
    assert jaccard(base, near) >= 0.8
    chk = Checks()
    check_pairs(chk, texts, [(2, 1)], [[1, 2]], 0.8)
    assert chk.failed == 0
    chk = Checks()
    check_pairs(chk, texts, [(1, 2), (1, 3)], [[1, 2]], 0.8)
    assert chk.failed == 1  # (1, 3) is not a near duplicate
    chk = Checks()
    check_pairs(chk, texts, [], [[1, 2]], 0.8)
    assert chk.failed == 1  # planted pair not reported


def test_survivors_flag_duplicate_altered_and_excess_drops():
    texts = {"a", "b", "c"}
    chk = Checks()
    assert check_survivors(chk, ["a", "b", "c"], texts, 1000, 16) == 0
    assert chk.failed == 0
    chk = Checks()
    check_survivors(chk, ["a", "b", "b"], texts, 1000, 16)
    assert chk.failed == 1  # a duplicate survived ("c" is one allowed drop)
    chk = Checks()
    check_survivors(chk, ["a", "b", "C"], texts, 1000, 16)
    assert chk.failed == 1  # an altered text in the right number of rows
    chk = Checks()
    check_survivors(chk, ["a"], {f"t{i}" for i in range(29)} | {"a"}, 1000, 16)
    assert chk.failed == 1  # 29 false drops at an FPR of ~1e-4


def test_quantile_ranks_use_ties_and_flag_a_wrong_estimate():
    values = [1] * 40 + [2] * 20 + list(range(3, 43))  # 100 values
    chk = Checks()
    # 1.0 covers ranks 0..0.40 (ties); 2.5 sits at rank 0.60
    check_quantiles(chk, values, (0.01, 0.39, 0.6), (1.0, 1.0, 2.5), 0.01)
    assert chk.failed == 0
    chk = Checks()
    check_quantiles(chk, values, (0.5,), (30.0,), 0.01)  # rank 0.87
    assert chk.failed == 1
