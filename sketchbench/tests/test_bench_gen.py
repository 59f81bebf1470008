"""The benchmark's inputs depend on the seed and nothing else."""

from __future__ import annotations

import json
import os

import pytest

from sketchbench.gen import GENERATORS, ensure_inputs

SIZES = {"ids_unique": 1024, "corpus_shaping": 300}


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for dp, _, fs in os.walk(d):
        for f in fs:
            p = os.path.join(dp, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    man = json.loads(out.pop("manifest.json"))
    man.pop("gen_s")  # generation time is recorded, not part of the input
    out["manifest"] = json.dumps(man, sort_keys=True).encode()
    return out


@pytest.mark.parametrize("workload", sorted(GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    a, _ = ensure_inputs(str(tmp_path / "a"), workload, 5, SIZES[workload])
    b, _ = ensure_inputs(str(tmp_path / "b"), workload, 5, SIZES[workload])
    c, _ = ensure_inputs(str(tmp_path / "c"), workload, 6, SIZES[workload])
    fa, fb, fc = _files(a), _files(b), _files(c)
    assert fa == fb
    assert fa.keys() == fc.keys()
    data = [k for k in fa if k.endswith(".parquet")]
    assert data and all(fa[k] != fc[k] for k in data)


def test_cached_inputs_are_reused(tmp_path):
    d1, m1 = ensure_inputs(str(tmp_path), "ids_unique", 3, 1024)
    d2, m2 = ensure_inputs(str(tmp_path), "ids_unique", 3, 1024)
    assert d1 == d2 and m1 == m2


def test_corpus_planted_truth_is_consistent(tmp_path):
    _, m = ensure_inputs(str(tmp_path), "corpus_shaping", 9, 400)
    t = m["truth"]
    assert len(t["near_dup_pairs"]) == 400 * 5 // 100
    assert len(t["exact_copy_pairs"]) == 400 // 100
    ids = {i for p in t["near_dup_pairs"] + t["exact_copy_pairs"] for i in p}
    assert len(ids) == 2 * (len(t["near_dup_pairs"]) + len(t["exact_copy_pairs"]))
    assert t["n_distinct_texts"] <= 400 - len(t["exact_copy_pairs"])
