"""Correctness oracle: pure checks over the planted truth.

Nothing here imports ``cuckoofilter_spark``: expected answers come from
the generator's manifest, from plain Spark or from the exact
definitions below. Each check records what it attempted and how many
of those failed; any failure makes the run exit non-zero.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

from sketchbench.gen import DECONTAM_N


class Checks:
    """Oracle ledger: every check adds what it attempted and what failed."""

    def __init__(self):
        self.rows: list[dict] = []

    def add(self, name: str, attempted: int, failed: int, **detail) -> None:
        self.rows.append(dict(name=name, attempted=int(attempted),
                              failed=int(failed), **detail))

    @property
    def attempted(self) -> int:
        return sum(r["attempted"] for r in self.rows)

    @property
    def failed(self) -> int:
        return sum(r["failed"] for r in self.rows)


def fpr_bound(f: int) -> float:
    """Cuckoo-filter false-positive bound ``2b/2^f`` for 4-way buckets."""
    return 2 * 4 / 2.0 ** f


def binomial_ceiling(n: int, p: float, z: float = 5.0) -> float:
    """Upper slack for a count of events of probability ``p`` in ``n``
    trials; z=5 makes a spurious failure a < 1e-6 event per check."""
    return n * p + z * np.sqrt(n * p * (1 - p)) + 1


def check_rows(chk: Checks, name: str, want, got) -> None:
    """Result rows must equal the reference rows as a multiset; every
    missing or extra row is one failure."""
    w, g = Counter(want), Counter(got)
    chk.add(name, max(1, sum(w.values())), sum(((w - g) + (g - w)).values()))


def check_probe(chk: Checks, truth: dict, probe: dict, reprobe: dict) -> int:
    """Probe results are ``{cls: (rows, hits)}`` with cls 0 = negative,
    1 = member kept, 2 = member deleted later. Members must all hit
    before the delete, kept members after it. Returns the hits on the
    negatives: the false positives."""
    n, n_del = truth["n_members"], truth["n_deleted"]
    hits = {c: probe.get(c, (0, 0))[1] for c in (0, 1, 2)}
    chk.add("probe_no_false_negatives", n, n - hits[1] - hits[2])
    kept_hits = reprobe.get(1, (0, 0))[1]
    chk.add("reprobe_survivors_no_false_negatives", n - n_del, n - n_del - kept_hits)
    return hits[0]


def check_deletes(chk: Checks, truth: dict, reprobe: dict, n_deleted: int,
                  n_not_found: int, f: int) -> None:
    """The delete step removed every key of its batch: the shards report
    the batch's size deleted and none not found, and after the re-merge
    the deleted members probe like negatives (hits within the filter's
    false-positive bound)."""
    n_del = truth["n_deleted"]
    chk.add("delete_removed_every_key", n_del,
            abs(n_del - n_deleted) + n_not_found,
            n_deleted=n_deleted, n_not_found=n_not_found)
    hits = reprobe.get(2, (0, 0))[1]
    chk.add("deleted_keys_probe_as_negatives", n_del,
            int(hits > binomial_ceiling(n_del, fpr_bound(f))), hits=hits)


def check_fpr(chk: Checks, name: str, fp: int, n_neg: int, f: int) -> float:
    """False positives on ``n_neg`` known negatives stay within the
    filter's bound (binomial slack). Returns FPR / bound."""
    bound = fpr_bound(f)
    chk.add(name, n_neg, int(fp > binomial_ceiling(n_neg, bound)), fp=fp)
    return fp / n_neg / bound


def ngrams(text: str, n: int = DECONTAM_N) -> set:
    """Distinct word n-grams (the corpus is single-space separated); a
    text shorter than n words has none."""
    w = text.split(" ")
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def check_quantiles(chk: Checks, values, qs, estimates, tol: float) -> None:
    """Each quantile estimate has a rank within ``tol`` of its ``q``. On
    tied values an estimate's rank is an interval (share of values below
    it .. share at or below it); the check uses the nearer end."""
    v = np.sort(np.asarray(values))
    bad = 0
    for q, e in zip(qs, estimates):
        lo = np.searchsorted(v, e, side="left") / len(v)
        hi = np.searchsorted(v, e, side="right") / len(v)
        bad += not (lo - tol <= q <= hi + tol)
    chk.add("quantile_rank_error", len(qs), bad)


def shingles(text: str, k: int = 3) -> set:
    """Distinct word k-shingles; a text shorter than k words is one."""
    return ngrams(text, k) or {text}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / max(1, len(sa | sb))


def check_pairs(chk: Checks, texts: dict, reported, planted, threshold: float) -> None:
    """Every reported pair has exact shingle Jaccard ≥ threshold, and
    every planted pair at or above the threshold is reported."""
    reported = {tuple(sorted(p)) for p in reported}
    low = sum(jaccard(texts[a], texts[b]) < threshold for a, b in reported)
    chk.add("neardup_pairs_above_threshold", max(1, len(reported)), low)
    missed = sum(tuple(p) not in reported and jaccard(texts[p[0]], texts[p[1]]) >= threshold
                 for p in planted)
    chk.add("neardup_planted_pairs_found", max(1, len(planted)), missed)


def check_survivors(chk: Checks, survivors: list, texts: set, n_probes: int,
                    f: int) -> int:
    """Streaming-dedup survivors are distinct texts of the corpus
    (``texts``, its exact distinct texts); the distinct texts missing
    from them are filter false positives, within the bound. Returns that
    false-drop count."""
    kept = set(survivors)
    chk.add("stream_survivors_distinct", max(1, len(survivors)),
            len(survivors) - len(kept))
    chk.add("stream_survivors_are_corpus_texts", max(1, len(survivors)),
            sum(s not in texts for s in survivors))
    n_distinct = len(texts)
    false_drops = n_distinct - len(kept & texts)
    chk.add("stream_false_drops_within_fpr", n_distinct,
            int(false_drops < 0 or false_drops > binomial_ceiling(n_probes, fpr_bound(f))),
            false_drops=false_drops)
    return false_drops
