"""Substring-level (n-gram-granular) duplicate-span analysis.

Document-level dedup (``operators/dedup.py``) removes whole
near-duplicate documents; this module finds DUPLICATED SPANS INSIDE
otherwise-unique documents — boilerplate headers, licence blocks,
navigation chrome — the signal of Lee et al. 2022, "Deduplicating
Training Data Makes Language Models Better" (there: suffix-array
substring dedup; here: the k-gram-granular formulation that
distributes).

Semantics (exact, oracle-checkable):

- words = ASCII-whitespace split of the trimmed text (identical to
  the shingle kernel and every SQL oracle in the suite);
- a document's k-gram at position p (0-based, p ≤ n_words−k) is the
  word window [p, p+k);
- a k-gram is DUPLICATED when its corpus-wide occurrence count
  (multiplicity, within- and cross-document) is ≥ ``min_count``;
- a word position is covered when at least one duplicated k-gram
  window contains it; ``covered`` is the exact union length of the
  [p, p+k) intervals over a doc's duplicated positions, and
  ``dup_e4`` = ⌊covered · 10⁴ / n_words⌋ is the duplicated-span
  fraction in integer 1e-4 units (integer division — exact in any
  engine).

Scale shape (the 100 TB contract):
(a) the COUNT pass — one ``mapInPandas`` runs the shared gram kernel
over each partition's text and pre-aggregates it with
``np.unique(..., return_counts=True)``, so the only shuffle that
scales with the corpus carries one (8-byte gram hash, partial count)
row per distinct gram per partition, never text and never one row per
position; a JVM ``groupBy(gh).sum`` and the ``cnt >= min_count``
filter give the frequent set;
(b) a bounded collect of the frequent set (the driver receives at most
``_DRIVER_FREQ_MAX`` + 1 keys), from which the driver builds the
cuckoo gate (zero false negatives) and a sorted exact key array, both
broadcast;
(c) the FUSED pass — one Arrow UDF per document batch re-derives the
gram sequence from text, gates it with the filter, verifies the gate
hits by ``searchsorted`` against the sorted array and computes
``n_dup_grams`` and ``covered`` with vectorized segment ops: no
explode, join, window or group-by follows it (plan-asserted in
``tests/test_plans.py``);
(d) frequent sets above ``_DRIVER_FREQ_MAX`` keep the distributed
plan — a sharded filter build + merge, the gate applied BELOW a
posexplode of the persisted gram table so only candidate positions
reach the exact verify join and the per-doc coverage window. Both
sides return identical rows and schema (``tests/test_spans.py``).

Counting is over 64-bit kernel hashes, not strings: two distinct
grams colliding would merge their counts (~n²/2⁶⁵ — negligible; the
SQL oracle counts the strings and stays hash-green). The kernel seed
rules from ``operators/dedup`` apply: seeds ≥ 2**32 key the hash for
adversarial corpora (see the dedup module trust-model note).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

_GRAM_TABLE_TYPE = StructType([
    StructField("n_words", IntegerType()),
    StructField("ghs", ArrayType(LongType())),
])

_STATS_TYPE = StructType([
    StructField(c, LongType())
    for c in ("n_words", "n_grams", "n_dup_grams", "covered")
])

# frequent-gram sets at or below this many keys are collected to the
# driver (8 bytes/gram: 4M grams = 32 MB) and take the fused one-pass
# plan; larger sets keep the distributed posexplode/gate/join/window
# plan (module docstring, items (b) and (d))
_DRIVER_FREQ_MAX = 1 << 22


def _gram_seq_batch(texts, k: int, seed: int):
    """Per-document (word count, gram hashes IN POSITION ORDER, with
    multiplicity) for an Arrow batch — the positional sibling of
    ``dedup._shingle_hashes_batch`` (which de-duplicates per doc).
    Both are thin tails over the SHARED kernel prefix
    ``dedup._gram_window_seq`` (round-7 review: sharing by
    construction, not by copy), so a gram here hashes identically to
    the same word window everywhere else."""
    from cuckoofilter_spark.operators.dedup import _gram_window_seq

    counts, lengths, grams = _gram_window_seq(texts, k, seed)
    empty = np.empty(0, dtype=np.uint64)
    if grams is None:
        return counts, [empty] * len(counts)
    out, s = [], 0
    for length in lengths.tolist():
        out.append(grams[s:s + length])
        s += length
    return counts, out


def gram_table(
    df: DataFrame, id_col: str, text: str, *, k: int = 3,
    seed: int = 2014,
) -> DataFrame:
    """(doc, n_words int, ghs array<long>): each document's word count
    and its k-gram hash SEQUENCE (position order, multiplicity kept —
    ``ghs[p]`` is the gram starting at word ``p``). One Arrow-batched
    kernel pass; every downstream stage works on these 8-byte hashes,
    never on text."""

    @F.pandas_udf(_GRAM_TABLE_TYPE)
    def tbl_udf(texts: pd.Series) -> pd.DataFrame:
        counts, grams = _gram_seq_batch(texts, k, seed)
        return pd.DataFrame({
            "n_words": counts.astype(np.int32),
            "ghs": [g.view(np.int64) for g in grams],
        })

    from cuckoofilter_spark.session import fan_out

    # fan_out (round 8): single-row-group scans serialize the kernel;
    # per-doc output is partition-independent. Project first: the
    # exchange ships only (id, text), the scan stays column-pruned.
    df = fan_out(df.select(F.col(id_col), F.col(text)))
    return df.select(
        F.col(id_col).alias("doc"), tbl_udf(F.col(text)).alias("t")
    ).select("doc", F.col("t.n_words").alias("n_words"),
             F.col("t.ghs").alias("ghs"))


def _frequent_grams(
    df: DataFrame, text: str, *, k: int, min_count: int, seed: int,
) -> DataFrame:
    """(gh long): the k-gram hashes whose corpus-wide multiplicity
    reaches ``min_count``. Each partition counts its own grams in
    numpy first (the collapsing scan), so the exchange feeding the JVM
    sum carries one (gh, partial count) row per distinct gram per
    partition — never text, never one row per position."""
    from cuckoofilter_spark.operators.dedup import _gram_window_seq
    from cuckoofilter_spark.session import fan_out

    def part_counts(pdfs):
        ghs, cnts = [], []
        for pdf in pdfs:
            grams = _gram_window_seq(pdf.iloc[:, 0], k, seed)[2]
            if grams is not None:
                u, c = np.unique(grams, return_counts=True)
                ghs.append(u)
                cnts.append(c)
        if not ghs:
            return
        gh, cnt = ghs[0], cnts[0]
        if len(ghs) > 1:
            gh, inv = np.unique(np.concatenate(ghs), return_inverse=True)
            cnt = np.bincount(inv, weights=np.concatenate(cnts))
        yield pd.DataFrame({
            "gh": gh.view(np.int64), "cnt": cnt.astype(np.int64),
        })

    # fan_out: per-partition counts are summed, so the layout is free
    return (
        fan_out(df.select(F.col(text)))
        .mapInPandas(part_counts, "gh long, cnt long")
        .groupBy("gh")
        .agg(F.sum("cnt").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("gh")
    )


def _collect_frequent(freq: DataFrame):
    """The frequent set as a SORTED uint64 array, or None when it holds
    more than ``_DRIVER_FREQ_MAX`` keys — the limit bounds what the
    driver can ever receive to ``_DRIVER_FREQ_MAX`` + 1 keys."""
    pdf = freq.limit(_DRIVER_FREQ_MAX + 1).toPandas()
    if len(pdf) > _DRIVER_FREQ_MAX:
        return None
    return np.sort(pdf["gh"].to_numpy(dtype=np.int64).view(np.uint64))


def _span_cover_batch(texts, k: int, seed: int, sk, keys: np.ndarray):
    """The fused kernel over one Arrow batch: per-document word counts,
    gram counts, duplicated-gram counts and covered-word counts, plus
    the covered-word mask over the batch's flat word sequence and each
    document's first flat word index.

    Every gram position is gated by ``sk`` (zero false negatives); only
    the gate hits pay the exact ``searchsorted`` lookup in ``keys``
    (the sorted frequent set). A duplicated gram at flat word ``w``
    covers words [w, w+k); the union is a +1/−1 difference array whose
    running sum is > 0 exactly on covered words — windows never cross
    a document boundary, so one pass serves every document."""
    from cuckoofilter_spark.operators.dedup import _gram_window_seq

    counts, lengths, grams = _gram_window_seq(texts, k, seed)
    n_docs = len(counts)
    w_start = np.cumsum(counts) - counts
    dup = np.empty(0, dtype=np.int64)
    if grams is not None and len(keys):
        cand = np.flatnonzero(sk.contains_many(grams))
        g = grams[cand]
        at = np.minimum(np.searchsorted(keys, g), len(keys) - 1)
        dup = cand[keys[at] == g]  # flat gram indices, ascending
    g_start = np.cumsum(lengths) - lengths
    doc = np.searchsorted(g_start, dup, side="right") - 1
    n_dup = np.bincount(doc, minlength=n_docs)
    w0 = dup - g_start[doc] + w_start[doc]
    n_w = int(counts.sum())
    mask = np.cumsum(
        np.bincount(w0, minlength=n_w + 1)
        - np.bincount(w0 + k, minlength=n_w + 1)
    )[:n_w] > 0
    csum = np.concatenate(([0], np.cumsum(mask)))
    covered = csum[w_start + counts] - csum[w_start]
    return counts, lengths, n_dup, covered, mask, w_start


def _span_cover_udf(
    spark, keys: np.ndarray, *, k: int, seed: int, bits_per_item: int,
    filter_seed: int, positions: bool = False,
):
    """Pandas UDF ``f(text)`` — the FUSED gate + exact verify +
    coverage pass against ``keys`` (sorted uint64 frequent set). The
    cuckoo gate is built here, driver-side, and broadcast with the
    sorted keys. Emits ``struct<n_words, n_grams, n_dup_grams,
    covered>`` (all long) per document, or with ``positions`` the
    document's sorted covered word positions (``array<int>``)."""
    import uuid

    from cuckoofilter_spark.core.cuckoo import CuckooFilter, suggest_capacity
    from cuckoofilter_spark.operators.build import check_add_statuses
    from cuckoofilter_spark.operators.probe import _get_filter

    f = CuckooFilter(
        max(suggest_capacity(len(keys)), 1024), bits_per_item,
        seed=filter_seed,
    )
    check_add_statuses(f.add_many(keys), "_span_cover_udf")
    bc = spark.sparkContext.broadcast(f.to_bytes())
    bc_keys = spark.sparkContext.broadcast(keys)
    cache_key = uuid.uuid4().hex

    def kernel(texts):
        return _span_cover_batch(
            texts, k, seed, _get_filter(bc, cache_key), bc_keys.value
        )

    if positions:
        @F.pandas_udf(ArrayType(IntegerType()))
        def cover(texts: pd.Series) -> pd.Series:
            _, _, _, covered, mask, w_start = kernel(texts)
            local = np.flatnonzero(mask) - np.repeat(w_start, covered)
            # n_docs cut points give n_docs + 1 pieces, the last empty
            return pd.Series(np.split(
                local.astype(np.int32), np.cumsum(covered)
            )[:-1], dtype=object)
    else:
        @F.pandas_udf(_STATS_TYPE)
        def cover(texts: pd.Series) -> pd.DataFrame:
            counts, lengths, n_dup, covered, _, _ = kernel(texts)
            return pd.DataFrame({
                "n_words": counts.astype(np.int64),
                "n_grams": lengths.astype(np.int64),
                "n_dup_grams": n_dup.astype(np.int64),
                "covered": covered.astype(np.int64),
            })

    # asNondeterministic pins the single kernel evaluation under
    # downstream projections and filters (see
    # decontam.ngram_overlap_udf); the function is pure
    return cover.asNondeterministic()


def _frequent_hits(
    tbl: DataFrame, freq: DataFrame, *, bits_per_item: int,
    filter_seed: int,
) -> DataFrame:
    """The distributed side of the gate: the exact (doc, pos) table of
    duplicated gram positions, for frequent sets too large to collect.
    Persists ``freq`` (it feeds both the shard build and the verify
    join).

    The cuckoo gate keeps the verify join candidate-only: the filter
    has zero false negatives (no duplicated position can be lost) and
    only ~2b/2^f of infrequent positions leak through to be killed by
    the exact join."""
    from cuckoofilter_spark.core.cuckoo import suggest_capacity
    from cuckoofilter_spark.operators.build import build_sketch_shards
    from cuckoofilter_spark.operators.merge import merge_shards_to_blob
    from cuckoofilter_spark.operators.probe import might_contain_udf

    freq = freq.persist()
    blob = merge_shards_to_blob(
        build_sketch_shards(
            freq, "gh", kind="cuckoo", lineage=False,
            max_num_keys=max(suggest_capacity(freq.count()), 1024),
            bits_per_item=bits_per_item, seed=filter_seed,
        ),
        dedup=True,
    )
    probe = might_contain_udf(tbl.sparkSession, blob)
    cand = (
        tbl.select("doc", F.posexplode("ghs").alias("pos", "gh"))
        .filter(probe("gh"))
    )
    return cand.join(freq, "gh").select("doc", "pos")


def _span_report(df: DataFrame) -> DataFrame:
    """The public report over ``(doc, n_words, n_grams, n_dup_grams,
    covered)`` — one projection for both sides of the gate, so they
    return the same schema; missing counts (docs with no duplicated
    position on the join side) read 0."""
    return df.select(
        "doc", "n_words", "n_grams",
        F.coalesce("n_dup_grams", F.lit(0).cast("long"))
        .alias("n_dup_grams"),
        F.coalesce("covered", F.lit(0).cast("long")).alias("covered"),
        F.when(
            F.col("n_words") > 0,
            F.expr("coalesce(covered, 0L) * 10000L div n_words"),
        ).otherwise(F.lit(0)).cast("long").alias("dup_e4"),
    )


def duplicated_span_stats(
    df: DataFrame, id_col: str, text: str, *, k: int = 3,
    min_count: int = 2, seed: int = 2014, bits_per_item: int = 16,
    filter_seed: int = 7,
) -> DataFrame:
    """Per-document duplicated-span report: ``(doc, n_words, n_grams,
    n_dup_grams, covered, dup_e4)`` — one row per input document
    (docs with no duplicated spans report zeros).

    ``covered`` is the exact union length of the duplicated k-gram
    windows (consecutive/overlapping windows merge: per doc, sorted
    duplicated positions contribute min(k, next_pos − pos), the last
    contributes k). ``dup_e4`` = ⌊covered·10⁴ / n_words⌋.

    Downstream recipes: filter ``dup_e4 >= X`` to drop
    boilerplate-heavy documents, or pass the same parameters to
    ``drop_duplicated_spans`` to strip the spans in place. See the
    module docstring for semantics and the 100 TB plan shape.

    Caching lifetime: the fused plan (frequent set of at most
    ``_DRIVER_FREQ_MAX`` grams) persists nothing. The distributed
    fallback persists the gram table and the frequent set for the
    session, because the returned frame reads both; a loop over MANY
    corpora should call ``spark.catalog.clearCache()`` between
    iterations or unpersist after materializing the result."""
    from cuckoofilter_spark.session import fan_out

    freq = _frequent_grams(df, text, k=k, min_count=min_count, seed=seed)
    keys = _collect_frequent(freq)
    if keys is not None:
        cover = _span_cover_udf(
            df.sparkSession, keys, k=k, seed=seed,
            bits_per_item=bits_per_item, filter_seed=filter_seed,
        )
        return _span_report(
            fan_out(df.select(F.col(id_col), F.col(text)))
            .select(F.col(id_col).alias("doc"), cover(text).alias("s"))
            .select("doc", "s.*")
        )

    tbl = gram_table(df, id_col, text, k=k, seed=seed).persist()
    hits = _frequent_hits(
        tbl, freq, bits_per_item=bits_per_item, filter_seed=filter_seed,
    )
    w = Window.partitionBy("doc").orderBy("pos")
    contrib = F.least(
        F.lit(k).cast("long"),
        F.coalesce(
            F.lead("pos").over(w) - F.col("pos"), F.lit(k).cast("long")
        ),
    )
    cov = (
        hits.select("doc", contrib.alias("c"))
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_dup_grams"),
            F.sum("c").alias("covered"),
        )
    )
    base = tbl.select(
        "doc",
        F.col("n_words").cast("long").alias("n_words"),
        F.size("ghs").cast("long").alias("n_grams"),
    )
    return _span_report(base.join(cov, "doc", "left"))


def drop_duplicated_spans(
    df: DataFrame, id_col: str, text: str, *, k: int = 3,
    min_count: int = 2, seed: int = 2014, bits_per_item: int = 16,
    filter_seed: int = 7,
) -> DataFrame:
    """The span-drop transform: every input column plus
    ``text_dedup`` — the document with all duplicated-span word
    positions removed (words re-joined by single spaces; whitespace
    is not preserved byte-for-byte, matching the word-level
    semantics of the whole suite) — and ``n_dropped_words``.

    Same duplicated-span definition, count pass and gate as
    ``duplicated_span_stats``: the fused kernel emits each document's
    sorted covered word positions directly (no group-by, no join); the
    distributed fallback collects them per doc from the verified
    positions and joins them back. The rewrite is a JVM higher-order
    filter over the split words. Docs with nothing to drop pass
    through with ``text_dedup`` = the space-normalized words.

    Caching lifetime: as ``duplicated_span_stats``."""
    from cuckoofilter_spark.session import fan_out

    freq = _frequent_grams(df, text, k=k, min_count=min_count, seed=seed)
    keys = _collect_frequent(freq)
    if keys is not None:
        cover = _span_cover_udf(
            df.sparkSession, keys, k=k, seed=seed,
            bits_per_item=bits_per_item, filter_seed=filter_seed,
            positions=True,
        )
        out = fan_out(df).withColumn("_cov", cover(text))
    else:
        tbl = gram_table(df, id_col, text, k=k, seed=seed).persist()
        hits = _frequent_hits(
            tbl, freq, bits_per_item=bits_per_item,
            filter_seed=filter_seed,
        )
        # keyed "_span_doc", not "doc": an input frame whose id column
        # is literally "doc" (the package's own canonical output name)
        # would otherwise make the join condition ambiguous
        covered = hits.groupBy("doc").agg(
            F.array_sort(
                F.array_distinct(
                    F.flatten(
                        F.collect_list(
                            F.sequence(
                                F.col("pos"), F.col("pos") + F.lit(k - 1)
                            )
                        )
                    )
                )
            ).alias("_cov")
        ).withColumnRenamed("doc", "_span_doc")
        out = df.join(
            covered, F.col(id_col) == F.col("_span_doc"), "left"
        ).drop("_span_doc")
    words = F.filter(
        F.split(F.trim(F.col(text)), r"\s+"), lambda x: x != ""
    )
    kept = F.filter(
        F.arrays_zip(
            words.alias("w"),
            F.sequence(
                F.lit(0), F.greatest(F.size(words) - 1, F.lit(0))
            ).alias("i"),
        ),
        lambda s: ~F.coalesce(
            F.array_contains(F.col("_cov"), s["i"]), F.lit(False)
        ),
    )
    return out.withColumns({
        "text_dedup": F.when(
            F.size(words) > 0,
            F.array_join(F.transform(kept, lambda s: s["w"]), " "),
        ).otherwise(F.lit("")),
        "n_dropped_words": F.coalesce(
            F.size("_cov"), F.lit(0)
        ).cast("long"),
    }).drop("_cov")
