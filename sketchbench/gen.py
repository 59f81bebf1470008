"""Seeded input generators for the benchmark workloads.

The generators live here, not in ``cuckoofilter_spark.sources``, so a
library change can never change the benchmark's inputs. Everything is
numpy + pyarrow: no Spark session is needed to make the inputs, and
the same ``(seed, size)`` always writes byte-identical Parquet files.

Inputs are cached under ``<cache>/<workload>-s<seed>-n<size>/`` with a
``manifest.json`` recording row counts, the planted truth the oracle
checks against, and the generation time (which is not part of
``setup_s``).
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_FILES = 8
# word-level edit rate of a planted near-duplicate, and the window of a
# lifted eval span (long enough that chance n-gram overlap is rare)
NEAR_DUP_EDIT = 0.03
LIFT_WORDS = 16
# word n-gram lengths of the decontamination and duplicated-span steps
DECONTAM_N, SPAN_K = 8, 3


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), salt])


def _write_split(table: pa.Table, out_dir: str, n_files: int = N_FILES) -> None:
    os.makedirs(out_dir)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(np.int64)
    for i in range(n_files):
        part = table.slice(int(bounds[i]), int(bounds[i + 1] - bounds[i]))
        pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"))


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    c = np.cumsum(w)
    return c / c[-1]


def _zipf_sample(rng, cdf: np.ndarray, size: int) -> np.ndarray:
    """Ranks 0..len(cdf)-1, rank r drawn with weight 1/(r+1)^s."""
    r = np.searchsorted(cdf, rng.random(size), side="right")
    return np.minimum(r, len(cdf) - 1)


# -- ids_unique ---------------------------------------------------------

def gen_ids_unique(out: str, seed: int, n: int) -> dict:
    """``n`` distinct 64-bit member ids and ``n`` disjoint negatives.

    ``ids/``     the members (build input), column ``id``
    ``probe/``   members + negatives shuffled: ``key``, ``cls`` where
                 cls 0 = negative, 1 = member kept, 2 = member deleted
    ``deletes/`` the 1/8 of the members that step 4 deletes
    ``dim/``     1/4 of the members: the semi-join dimension"""
    rng = _rng(seed, 1)
    u = np.unique(rng.integers(1, 2**63 - 1, int(n * 2.05), dtype=np.int64))
    while len(u) < 2 * n:  # practically never: 2n draws from 2^63
        extra = rng.integers(1, 2**63 - 1, n, dtype=np.int64)
        u = np.unique(np.concatenate([u, extra]))
    u = rng.permutation(u)[: 2 * n]
    members, negatives = u[:n], u[n:]
    n_del, n_dim = n // 8, n // 4
    cls = np.zeros(2 * n, dtype=np.int8)
    cls[:n] = 1
    cls[:n_del] = 2
    keys = np.concatenate([members, negatives])
    order = rng.permutation(2 * n)
    _write_split(pa.table({"id": members}), os.path.join(out, "ids"))
    _write_split(pa.table({"key": keys[order], "cls": cls[order]}),
                 os.path.join(out, "probe"))
    _write_split(pa.table({"id": members[:n_del]}),
                 os.path.join(out, "deletes"), 1)
    _write_split(pa.table({"id": members[n - n_dim:]}),
                 os.path.join(out, "dim"), 1)
    return {
        "rows": {"ids": n, "probe": 2 * n, "deletes": n_del, "dim": n_dim},
        "truth": {"n_members": n, "n_negatives": n, "n_deleted": n_del,
                  "n_dim": n_dim, "semijoin_rows": n_dim},
    }


# -- corpus_shaping -----------------------------------------------------

N_WORDS = 20_000


def _vocab_words(rng) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words, seen = [], set()
    while len(words) < N_WORDS:
        w = "".join(letters[rng.integers(0, 26, int(rng.integers(2, 9)))])
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words, dtype=object)


def gen_corpus(out: str, seed: int, n_docs: int) -> dict:
    """A tokenized training corpus: ``(doc_id, text, tokens array<int>,
    n_tok, source)``. Text is lowercase single-spaced Zipf(1.0) words
    over a 20k-word vocab with log-normal lengths (~140 words);
    ``tokens`` holds the same words as ids under a seeded id
    permutation, so hot tokens are not the small ids. Planted
    structure:

    - 5% near-duplicate copies of distinct base docs, ~3% of the words
      substituted;
    - 1% exact copies of other base docs;
    - an eval set of ~1% of the corpus size, a quarter of whose docs
      embed a ``LIFT_WORDS``-word span lifted from a base doc.

    Doc order is shuffled so copies land in other files (and other
    streaming micro-batches) than their originals."""
    rng = _rng(seed, 3)
    words = _vocab_words(rng)
    tok_id = rng.permutation(N_WORDS).astype(np.int32)
    cdf = _zipf_cdf(N_WORDS, 1.0)
    n_near, n_exact = n_docs * 5 // 100, n_docs // 100
    n_base = n_docs - n_near - n_exact

    lens = np.clip(
        np.rint(rng.lognormal(np.log(130.0), 0.5, n_base)), 2 * LIFT_WORDS, 2000
    ).astype(np.int64)
    offs = np.zeros(n_base + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    idx = _zipf_sample(rng, cdf, int(offs[-1]))
    segs = [idx[offs[b]:offs[b + 1]] for b in range(n_base)]
    src = rng.permutation(n_base)[: n_near + n_exact]
    near_src, exact_src = src[:n_near], src[n_near:]
    for b in near_src:
        seg = segs[b].copy()
        hit = rng.random(len(seg)) < NEAR_DUP_EDIT
        seg[hit] = _zipf_sample(rng, cdf, int(hit.sum()))
        segs.append(seg)
    segs += [segs[b] for b in exact_src]

    perm = rng.permutation(n_docs)          # position -> doc_id
    doc_id = np.empty(n_docs, dtype=np.int64)
    doc_id[perm] = np.arange(n_docs)
    ordered = [None] * n_docs
    for pos, seg in enumerate(segs):
        ordered[doc_id[pos]] = seg
    n_tok = np.array([len(seg) for seg in ordered], dtype=np.int32)
    t_offs = np.zeros(n_docs + 1, dtype=np.int32)
    np.cumsum(n_tok, out=t_offs[1:])
    flat = np.concatenate(ordered)
    toks = tok_id[flat]
    sources = np.array(["web", "books", "forum"])
    _write_split(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array([" ".join(words[seg]) for seg in ordered], pa.string()),
        "tokens": pa.ListArray.from_arrays(pa.array(t_offs), pa.array(toks)),
        "n_tok": n_tok,
        "source": sources[rng.integers(0, len(sources), n_docs)],
    }), os.path.join(out, "corpus"))

    n_eval = max(8, n_docs // 100)
    e_lens = rng.integers(60, 200, n_eval)
    eval_texts = [" ".join(words[_zipf_sample(rng, cdf, int(n))]) for n in e_lens]
    lifted = rng.permutation(n_base)[: n_eval // 4]
    for j, b in enumerate(lifted):
        s = int(rng.integers(0, len(segs[b]) - LIFT_WORDS + 1))
        span = " ".join(words[segs[b][s:s + LIFT_WORDS]])
        eval_texts[j] = f"{eval_texts[j]} {span} {eval_texts[j]}"
    _write_split(pa.table({
        "doc_id": np.arange(n_eval, dtype=np.int64),
        "text": pa.array(eval_texts, pa.string()),
    }), os.path.join(out, "eval"), 1)

    def pairs(sources, first):
        return sorted(sorted((int(doc_id[b]), int(doc_id[first + i])))
                      for i, b in enumerate(sources))
    counts = np.bincount(toks, minlength=N_WORDS)
    hot = np.argsort(counts, kind="stable")[::-1][:64]
    return {
        "rows": {"docs": n_docs, "eval": n_eval, "tokens": int(len(toks)),
                 "ngrams": int(np.maximum(n_tok - DECONTAM_N + 1, 0).sum()),
                 "span_grams": int(np.maximum(n_tok - SPAN_K + 1, 0).sum())},
        "truth": {
            "near_dup_pairs": pairs(near_src, n_base),
            "exact_copy_pairs": pairs(exact_src, n_base + n_near),
            "contaminated_doc_ids": sorted(int(doc_id[b]) for b in lifted),
            "n_distinct_texts": len({seg.tobytes() for seg in segs}),
            "stopwords": words[np.argsort(np.bincount(idx, minlength=N_WORDS))[::-1][:4]].tolist(),
            "n_distinct_tokens": int((counts > 0).sum()),
            "hot_tokens": hot.tolist(),
            "hot_counts": counts[hot].tolist(),
        },
    }


GENERATORS = {
    "ids_unique": gen_ids_unique,
    "corpus_shaping": gen_corpus,
}


def _input_dir(cache: str, workload: str, seed, size) -> str:
    return os.path.join(cache, f"{workload}-s{int(seed)}-n{int(size)}")


def is_cached(cache: str, workload: str, seed, size) -> bool:
    return os.path.exists(os.path.join(_input_dir(cache, workload, seed, size),
                                       "manifest.json"))


def ensure_inputs(cache: str, workload: str, seed: int, size: int) -> tuple[str, dict]:
    """Return ``(dir, manifest)`` for the inputs, generating them once."""
    out = _input_dir(cache, workload, seed, size)
    man_path = os.path.join(out, "manifest.json")
    if os.path.exists(man_path):
        with open(man_path) as f:
            return out, json.load(f)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    manifest = GENERATORS[workload](tmp, seed, size)
    manifest.update(workload=workload, seed=seed, size=size,
                    gen_s=time.perf_counter() - t0)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, manifest


if __name__ == "__main__":
    # python3 -m sketchbench.gen <cache> <workload> <seed> <size>
    import sys

    cache_dir, name, seed_arg, size_arg = sys.argv[1:5]
    ensure_inputs(cache_dir, name, int(seed_arg), int(size_arg))
