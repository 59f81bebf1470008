"""Benchmark decontamination — the cuckoo filter's flagship
training-pipeline role.

Before training on a 100 TB corpus you must remove documents that
overlap the evaluation benchmarks (n-gram contamination). The exact
answer is an n-gram join corpus × eval — at corpus scale that join's
corpus side (every n-gram of every document, shuffled by n-gram) is
the single most expensive movement in the pipeline. The membership
sketch removes it:

1. the EVAL side's distinct word n-grams are built into one cuckoo
   filter blob (eval sets are millions of n-grams — megabytes at
   16 bits/item) and broadcast;
2. the CORPUS side is a narrow scan: per document, tokenize →
   shingle → hash → one batched filter probe, all inside one Arrow
   UDF — no explode, no shuffle. Zero false negatives (reference
   guarantee, ``src/cuckoofilter.h:166-185``) ⇒ every truly
   contaminated document survives this gate;
3. only the PROBE HITS — true overlaps plus an FPR-controlled
   trickle (bits_per_item=16 ⇒ ~0.01% per n-gram) — pay the exact
   verification, so the result is exact up to 64-bit gram-hash
   collisions. Round 8: for eval sets within the driver cap the
   exact check rides INSIDE the same UDF pass (``ngram_overlap_udf``:
   a ``searchsorted`` of the hit grams against the broadcast sorted
   exact hash set — no join at all); larger eval sets explode the
   hit-gram hashes into a broadcast verify join
   (``ngram_hit_stats_udf`` + join). Either way the per-gram exact
   work is candidate-only.

This is the same probe-then-verify shape as the semi-join operator
(``operators/semijoin.py``), applied per-array instead of per-key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuckoofilter_spark.core.cuckoo import suggest_capacity as _suggest_capacity
from cuckoofilter_spark.operators.build import build_sketch_shards
from cuckoofilter_spark.operators.merge import merge_shards_to_blob


def _ngram_hash_udf(seed: int):
    """string n-gram -> uint64 hash (as long). Delegates to
    ``dedup.gram_string_hashes`` — bit-identical to the per-shingle
    hash ``dedup._shingle_hashes`` assigns the same word sequence, so
    the JVM-shingled build side and the Python-shingled probe side
    agree."""
    from pyspark.sql.types import LongType

    from cuckoofilter_spark.operators.dedup import gram_string_hashes

    @F.pandas_udf(LongType())
    def h(s: pd.Series) -> pd.Series:
        return pd.Series(gram_string_hashes(s, seed).view(np.int64))

    return h


def contamination_count_udf(spark, blob: bytes, *, n: int, seed: int):
    """Column-function ``f(text) -> int``: how many of the document's
    distinct word n-grams the broadcast eval filter contains.

    ONE pass does tokenize → shingle → hash → batch probe inside the
    UDF (``dedup._shingle_hashes`` + one ``contains_many`` per Arrow
    batch). Doing the shingling here rather than with the JVM
    ``shingles_col`` Column matters twice over: the interpreted
    higher-order expression costs ~25× more per doc, and Catalyst's
    projection collapsing would otherwise re-evaluate it in every
    operator that references the array."""
    import uuid

    from pyspark.sql.types import IntegerType

    from cuckoofilter_spark.operators.dedup import _shingle_hashes_batch
    from cuckoofilter_spark.operators.probe import _get_filter

    bc = spark.sparkContext.broadcast(bytes(blob))
    cache_key = uuid.uuid4().hex

    @F.pandas_udf(IntegerType())
    def hits(s: pd.Series) -> pd.Series:
        sk = _get_filter(bc, cache_key)
        arrs = _shingle_hashes_batch(s, n, seed)
        lens = np.fromiter(
            (len(a) for a in arrs), dtype=np.int64, count=len(arrs)
        )
        if len(arrs) == 0 or int(lens.sum()) == 0:
            return pd.Series(np.zeros(len(arrs), dtype=np.int32))
        flat = np.concatenate(arrs)
        hv = sk.contains_many(flat).astype(np.int64)
        csum = np.concatenate(([0], np.cumsum(hv)))
        ends = np.cumsum(lens)
        out = csum[ends] - csum[ends - lens]
        return pd.Series(out.astype(np.int32))

    def apply(col):
        return hits(F.col(col) if isinstance(col, str) else col)

    return apply


def ngram_stats_udf(spark, blob: bytes, *, n: int, seed: int):
    """Column-function ``f(text) -> struct<n_total int, n_hits int>``:
    the document's distinct word-n-gram count and how many of them the
    broadcast filter contains — the one-pass gate ``novelty_report``
    needs (same tokenize → shingle → hash → batch probe pipeline as
    ``contamination_count_udf``, plus the free total)."""
    import uuid

    from pyspark.sql.types import (
        IntegerType, StructField, StructType,
    )

    from cuckoofilter_spark.operators.dedup import _shingle_hashes_batch
    from cuckoofilter_spark.operators.probe import _get_filter

    bc = spark.sparkContext.broadcast(bytes(blob))
    cache_key = uuid.uuid4().hex
    out_type = StructType([
        StructField("n_total", IntegerType()),
        StructField("n_hits", IntegerType()),
    ])

    @F.pandas_udf(out_type)
    def stats(s: pd.Series) -> pd.DataFrame:
        sk = _get_filter(bc, cache_key)
        arrs = _shingle_hashes_batch(s, n, seed)
        lens = np.fromiter(
            (len(a) for a in arrs), dtype=np.int64, count=len(arrs)
        )
        if len(arrs) == 0 or int(lens.sum()) == 0:
            z = np.zeros(len(arrs), dtype=np.int32)
            return pd.DataFrame({"n_total": z, "n_hits": z})
        flat = np.concatenate(arrs)
        hv = sk.contains_many(flat).astype(np.int64)
        csum = np.concatenate(([0], np.cumsum(hv)))
        ends = np.cumsum(lens)
        hits = (csum[ends] - csum[ends - lens]).astype(np.int32)
        return pd.DataFrame(
            {"n_total": lens.astype(np.int32), "n_hits": hits}
        )

    def apply(col):
        return stats(F.col(col) if isinstance(col, str) else col)

    return apply


def ngram_hit_stats_udf(spark, blob: bytes, *, n: int, seed: int):
    """Column-function ``f(text) -> struct<n_total int, n_hits int,
    hits array<long>>`` — the FUSED gate (round 8): one tokenize →
    shingle → hash → batch-probe pass that also RETURNS the distinct
    gram hashes the broadcast filter contained, so the exact verify
    join can explode 8-byte candidate hashes instead of re-shingling
    candidate documents with the interpreted JVM ``shingles_col``
    (CodegenFallback, ~2 ms/doc — it dominated the decontam row).
    Non-candidate documents return an empty array — the per-row cost
    of the clean bulk is unchanged."""
    import uuid

    from pyspark.sql.types import (
        ArrayType, IntegerType, LongType, StructField, StructType,
    )

    from cuckoofilter_spark.operators.dedup import _shingle_hashes_batch
    from cuckoofilter_spark.operators.probe import _get_filter

    bc = spark.sparkContext.broadcast(bytes(blob))
    cache_key = uuid.uuid4().hex
    out_type = StructType([
        StructField("n_total", IntegerType()),
        StructField("n_hits", IntegerType()),
        StructField("hits", ArrayType(LongType())),
    ])
    _empty = np.empty(0, dtype=np.int64)

    @F.pandas_udf(out_type)
    def stats(s: pd.Series) -> pd.DataFrame:
        sk = _get_filter(bc, cache_key)
        arrs = _shingle_hashes_batch(s, n, seed)
        lens = np.fromiter(
            (len(a) for a in arrs), dtype=np.int64, count=len(arrs)
        )
        if len(arrs) == 0 or int(lens.sum()) == 0:
            z = np.zeros(len(arrs), dtype=np.int32)
            return pd.DataFrame(
                {"n_total": z, "n_hits": z, "hits": [_empty] * len(arrs)}
            )
        flat = np.concatenate(arrs)
        hv = sk.contains_many(flat)
        h64 = hv.astype(np.int64)
        csum = np.concatenate(([0], np.cumsum(h64)))
        ends = np.cumsum(lens)
        hits_n = (csum[ends] - csum[ends - lens]).astype(np.int32)
        out_hits = []
        pos = 0
        for i, ln in enumerate(lens):
            if hits_n[i]:
                out_hits.append(
                    flat[pos:pos + ln][hv[pos:pos + ln]].view(np.int64)
                )
            else:
                out_hits.append(_empty)
            pos += ln
        return pd.DataFrame({
            "n_total": lens.astype(np.int32),
            "n_hits": hits_n,
            "hits": out_hits,
        })

    stats = stats.asNondeterministic()  # guide §4.4 — see ngram_overlap_udf

    def apply(col):
        return stats(F.col(col) if isinstance(col, str) else col)

    return apply


def ngram_overlap_udf(spark, blob: bytes, exact_keys, *, n: int, seed: int):
    """Column-function ``f(text) -> struct<n_total int, n_overlap
    int>`` — the FUSED gate + exact verify (round 8): per document,
    tokenize → shingle → hash → batched CF probe (the zero-FN gate:
    only probe HITS pay the exact lookup), then the hits verify
    against the broadcast SORTED exact eval-hash array with one
    ``searchsorted``. Emits the exact distinct-overlap count directly
    — no hit arrays cross the boundary, no explode/join/groupBy
    follows. ``exact_keys``: uint64 ndarray of the eval set's distinct
    gram hashes (sorted here)."""
    import uuid

    from pyspark.sql.types import IntegerType, StructField, StructType

    from cuckoofilter_spark.operators.dedup import _shingle_hashes_batch
    from cuckoofilter_spark.operators.probe import _get_filter

    bc = spark.sparkContext.broadcast(bytes(blob))
    keys_sorted = np.sort(np.asarray(exact_keys, dtype=np.uint64))
    bc_keys = spark.sparkContext.broadcast(keys_sorted)
    cache_key = uuid.uuid4().hex
    out_type = StructType([
        StructField("n_total", IntegerType()),
        StructField("n_overlap", IntegerType()),
    ])

    @F.pandas_udf(out_type)
    def stats(s: pd.Series) -> pd.DataFrame:
        sk = _get_filter(bc, cache_key)
        ek = bc_keys.value
        arrs = _shingle_hashes_batch(s, n, seed)
        lens = np.fromiter(
            (len(a) for a in arrs), dtype=np.int64, count=len(arrs)
        )
        if len(arrs) == 0 or int(lens.sum()) == 0:
            z = np.zeros(len(arrs), dtype=np.int32)
            return pd.DataFrame({"n_total": z, "n_overlap": z})
        flat = np.concatenate(arrs)
        hv = sk.contains_many(flat)
        # exact verify on the gate hits only: membership of each hit
        # in the sorted exact set via searchsorted
        hits = flat[hv]
        if len(hits) and len(ek):
            pos = np.searchsorted(ek, hits)
            pos[pos >= len(ek)] = len(ek) - 1
            exact_hit = ek[pos] == hits
        else:
            exact_hit = np.zeros(len(hits), dtype=bool)
        ex = np.zeros(len(flat), dtype=np.int64)
        ex[hv] = exact_hit.astype(np.int64)
        csum = np.concatenate(([0], np.cumsum(ex)))
        ends = np.cumsum(lens)
        n_overlap = (csum[ends] - csum[ends - lens]).astype(np.int32)
        return pd.DataFrame({
            "n_total": lens.astype(np.int32),
            "n_overlap": n_overlap,
        })

    # asNondeterministic (guide §4.4): downstream filters on the
    # struct fields would otherwise be pushed below the projection and
    # DUPLICATE the whole kernel evaluation (two ArrowEvalPython nodes
    # — every document tokenized and probed twice; seen in the round-8
    # plan capture). The function is pure; the marking only pins it.
    stats = stats.asNondeterministic()

    def apply(col):
        return stats(F.col(col) if isinstance(col, str) else col)

    return apply


def _collect_gram_keys(ev_ngrams: DataFrame):
    """The eval gram-hash set as a uint64 ndarray, or None when it
    exceeds the driver cap (limit-bounded collect — the fused verify
    then falls back to the explode+join plan)."""
    pdf = ev_ngrams.select("gh").limit(
        _DRIVER_EVAL_BUILD_MAX + 1
    ).toPandas()
    if len(pdf) > _DRIVER_EVAL_BUILD_MAX:
        return None
    return pdf["gh"].to_numpy(dtype=np.int64).view(np.uint64)


def novelty_report(
    corpus: DataFrame, ref_df: DataFrame, id_col: str, text_col: str, *,
    n: int = 3, bits_per_item: int = 16, seed: int = 7,
) -> DataFrame:
    """Per-document novelty vs a reference corpus, exact up to 64-bit
    gram-hash collisions — the scoring complement of
    ``decontaminate``: for EVERY corpus document,
    ``(id_col, n_total, n_seen, novelty_milli)`` where ``n_total`` is
    its distinct word-``n``-gram count, ``n_seen`` how many of those
    appear anywhere in ``ref_df``, and ``novelty_milli =
    floor(1000 * (n_total - n_seen) / n_total)`` (integer arithmetic —
    engine-portable; 1000 = fully novel). Data curation uses this to
    down-weight or drop low-novelty documents against an existing
    training snapshot.

    Plan shape: one narrow probe pass computes (n_total, gate hits)
    per document inside a single Arrow UDF — no shuffle, no explode.
    Zero false negatives make the gate exact-preserving BOTH ways:
    a document with 0 filter hits has exactly 0 true overlaps (its
    ``n_seen`` is 0 without any join), so only documents with ≥1 hit
    — the overlapping sliver plus the FPR trickle — pay the
    explode + broadcast-join verification. Documents with an empty
    n-gram set (< n words) report n_total=0, novelty_milli=1000.

    Caching lifetime: the gate output (and the reference n-gram table
    built by ``eval_ngram_filter``) stay persisted for the session —
    deliberate when scoring several corpus slices against one
    reference, but a loop over MANY references should call
    ``spark.catalog.clearCache()`` between iterations (as bench.py
    does) or unpersist after materializing the result."""
    blob, ref_grams = eval_ngram_filter(
        ref_df, text_col, n=n, bits_per_item=bits_per_item, seed=seed
    )
    spark = corpus.sparkSession
    from cuckoofilter_spark.session import fan_out

    # Round 8: the fused gate+verify UDF computes (n_total, exact
    # n_seen) in ONE corpus pass — CF gate (zero FN) then searchsorted
    # against the broadcast exact gram set; no explode, no join at
    # all. Eval sets past the driver cap fall back to the hit-array
    # explode + broadcast-join verify.
    keys = _collect_gram_keys(ref_grams)
    if keys is not None:
        stats = ngram_overlap_udf(spark, blob, keys, n=n, seed=seed)
        base = fan_out(
            corpus.select(F.col(id_col), F.col(text_col))
        ).select(
            F.col(id_col), stats(text_col).alias("__st")
        ).select(
            id_col,
            F.col("__st.n_total").alias("n_total"),
            F.col("__st.n_overlap").alias("__n_seen"),
        )
        return base.select(
            id_col,
            "n_total",
            F.col("__n_seen").cast("long").alias("n_seen"),
            F.when(F.col("n_total") > 0,
                   F.floor(F.lit(1000) * (F.col("n_total")
                                          - F.col("__n_seen"))
                           / F.col("n_total")))
            .otherwise(F.lit(1000)).alias("novelty_milli"),
        )

    stats = ngram_hit_stats_udf(spark, blob, n=n, seed=seed)
    base = fan_out(
        corpus.select(F.col(id_col), F.col(text_col))
    ).select(
        F.col(id_col), stats(text_col).alias("__st")
    ).select(
        id_col,
        F.col("__st.n_total").alias("n_total"),
        F.col("__st.n_hits").alias("__hits"),
        F.col("__st.hits").alias("__hit_ghs"),
    )
    base.persist()

    exact = (
        base.filter(F.col("__hits") >= 1)
        .select(id_col, F.explode("__hit_ghs").alias("gh"))
        .join(F.broadcast(ref_grams), "gh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__n_seen"))
    )
    out = (
        base.drop("__hit_ghs")
        .join(exact, id_col, "left")
        .select(
            id_col,
            "n_total",
            F.coalesce(F.col("__n_seen"), F.lit(0)).cast("long")
            .alias("n_seen"),
            F.when(F.col("n_total") > 0,
                   F.floor(F.lit(1000) * (F.col("n_total") - F.coalesce(
                       F.col("__n_seen"), F.lit(0)))
                           / F.col("n_total")))
            .otherwise(F.lit(1000)).alias("novelty_milli"),
        )
    )
    return out


# eval n-gram sets at or below this distinct count build the filter
# DRIVER-SIDE from one collect (8 bytes/gram: 4M grams = 32 MB on the
# driver) instead of paying a 32-task shard build + merge round for a
# KB-scale filter — the eval side of decontamination is small by
# contract. Larger sets keep the distributed shard build.
_DRIVER_EVAL_BUILD_MAX = 1 << 22


def eval_ngram_filter(
    eval_df: DataFrame, text_col: str, *, n: int = 3,
    bits_per_item: int = 16, seed: int = 7, capacity: int | None = None,
) -> tuple[bytes, DataFrame]:
    """Build the broadcastable eval-side artifacts: (filter blob,
    distinct-gram-HASH DataFrame, column ``gh`` long).

    Round 8: the gram table is HASHED (the same shingle kernel as the
    probe side — agreement by construction), because the exact verify
    join now compares 8-byte kernel hashes, not strings; and small
    eval sets (≤ ``_DRIVER_EVAL_BUILD_MAX`` distinct grams) build the
    filter driver-side from one collect instead of a shard-build +
    merge job round. ``capacity`` pre-sizes the filter and skips
    nothing else (the distinct count is needed to pick the build
    path)."""
    from pyspark.sql.types import ArrayType, LongType

    from cuckoofilter_spark.operators.dedup import _shingle_hashes_batch
    from cuckoofilter_spark.session import fan_out

    spark = eval_df.sparkSession

    # ONE job for the whole small-eval path: each partition emits its
    # locally-distinct gram hashes, the driver takes the global
    # unique. The limit bounds what the driver can ever receive — if
    # it fires (sum of per-partition uniques past the cap), we take
    # the distributed path below instead.
    def part_grams(pdfs):
        seen: list[np.ndarray] = []
        for pdf in pdfs:
            arrs = _shingle_hashes_batch(pdf[text_col], n, seed)
            arrs = [a for a in arrs if len(a)]
            if arrs:
                seen.append(np.unique(np.concatenate(arrs)))
        if seen:
            yield pd.DataFrame(
                {"gh": np.unique(np.concatenate(seen)).view(np.int64)}
            )

    pdf = (
        fan_out(eval_df.select(F.col(text_col)))
        .mapInPandas(part_grams, "gh long")
        .limit(_DRIVER_EVAL_BUILD_MAX + 1)
        .toPandas()
    )
    if len(pdf) <= _DRIVER_EVAL_BUILD_MAX:
        from cuckoofilter_spark.core.cuckoo import CuckooFilter
        from cuckoofilter_spark.operators.build import check_add_statuses

        all_gh = np.unique(pdf["gh"].to_numpy(dtype=np.int64))
        n_grams = len(all_gh)
        cap = max(_suggest_capacity(int(capacity or n_grams)), 1024)
        f = CuckooFilter(cap, bits_per_item, seed=seed)
        check_add_statuses(
            f.add_many(all_gh.view(np.uint64)), "eval_ngram_filter"
        )
        blob = f.to_bytes()
        grams = spark.createDataFrame(
            pd.DataFrame({"gh": all_gh}), "gh long"
        )
        return blob, grams

    # big eval set: distributed distinct + shard build (unchanged)
    @F.pandas_udf(ArrayType(LongType()))
    def sh_udf(texts: pd.Series) -> pd.Series:
        return pd.Series([
            hs.view(np.int64)
            for hs in _shingle_hashes_batch(texts, n, seed)
        ])

    grams = (
        fan_out(eval_df)
        .select(F.explode(sh_udf(F.col(text_col))).alias("gh"))
        .distinct()
    )
    grams.persist()
    n_grams = grams.count()
    cap = max(_suggest_capacity(int(capacity or n_grams)), 1024)
    shards = build_sketch_shards(
        grams, "gh", kind="cuckoo", lineage=False,
        max_num_keys=cap, bits_per_item=bits_per_item, seed=seed,
    )
    blob = merge_shards_to_blob(shards, dedup=True)
    return blob, grams


def decontaminate(
    corpus: DataFrame, eval_df: DataFrame, id_col: str, text_col: str, *,
    n: int = 3, min_overlap: int = 1, bits_per_item: int = 16,
    seed: int = 7,
) -> DataFrame:
    """Contamination report, exact up to 64-bit gram-hash collisions:
    one row per corpus document whose distinct word-``n``-gram
    overlap with the eval set is ≥ ``min_overlap`` — columns
    ``(id_col, n_overlap)``.

    Plan shape (the part that matters at 100 TB): the corpus is
    touched by (a) one narrow probe pass — no shuffle — and (b) an
    explode+join of CANDIDATE documents only. Monotonicity makes the
    gate safe: per-document filter hits ≥ true overlaps (zero false
    negatives), so ``hits ≥ min_overlap`` can never drop a document
    the exact join would keep. To drop the contaminated docs instead
    of reporting them, anti-join this result back on ``id_col``.

    SECURITY: n-gram matching compares kernel hashes; with the
    default public seed an adversarial corpus document can forge fake
    contamination hits. For untrusted corpora pass
    ``seed=dedup.random_kernel_seed()`` (keyed kernel mode — see the
    ``operators.dedup`` trust-model note); build and probe share
    ``seed``, so one argument keys both sides."""
    blob, ev_ngrams = eval_ngram_filter(
        eval_df, text_col, n=n, bits_per_item=bits_per_item, seed=seed
    )
    return overlap_report(
        corpus, blob, ev_ngrams, id_col, text_col,
        n=n, min_overlap=min_overlap, seed=seed,
    )


def overlap_report(
    corpus: DataFrame, blob: bytes, ev_ngrams: DataFrame,
    id_col: str, text_col: str, *, n: int = 3, min_overlap: int = 1,
    seed: int = 7, broadcast_eval: bool = True, hits_udf=None,
) -> DataFrame:
    """The probe-gate + exact-verify core of ``decontaminate``, against
    PRE-BUILT eval artifacts — so a streaming job (or a loop over
    corpus slices) builds the eval filter once and reuses it per
    batch. ``ev_ngrams`` is the HASHED gram table from
    ``eval_ngram_filter`` (column ``gh``).

    Round 8 plan shape: ONE fused Arrow pass over the corpus computes
    the per-document filter-hit count AND the candidate gram hashes
    (``ngram_hit_stats_udf``); candidates explode those 8-byte hashes
    straight into the broadcast verify join. The previous plan
    re-shingled every candidate with the interpreted JVM
    ``shingles_col`` (CodegenFallback) — on a corpus whose documents
    share vocabulary with the eval set the candidate sliver is wide
    and that interpreted pass dominated the row (measured 10.7 s →
    3.3 s at the sf1.0 step).

    ``broadcast_eval`` pins the verify join's build side to the eval
    gram table; set False only if the eval side outgrows executor
    memory. ``hits_udf`` lets a caller reuse one
    ``ngram_overlap_udf`` (and its blob broadcast) across many
    calls — the streaming job passes it so a long-running stream
    broadcasts the blob once, not once per micro-batch."""
    spark = corpus.sparkSession
    from cuckoofilter_spark.session import fan_out

    if hits_udf is None:
        keys = _collect_gram_keys(ev_ngrams)
        if keys is not None:
            hits_udf = ngram_overlap_udf(spark, blob, keys, n=n, seed=seed)
    if hits_udf is not None:
        # fused plan: ONE corpus pass computes the exact overlap count
        # (CF gate + searchsorted verify inside the UDF) — the join
        # below never runs. min_overlap=0 keeps the legacy inner-join
        # semantics (a document with zero overlaps never had a row).
        return (
            fan_out(corpus.select(F.col(id_col), F.col(text_col)))
            .select(F.col(id_col), hits_udf(text_col).alias("__st"))
            .filter(F.col("__st.n_overlap") >= max(int(min_overlap), 1))
            .select(
                id_col,
                F.col("__st.n_overlap").cast("long").alias("n_overlap"),
            )
        )

    # eval set past the driver cap: probe-gate + explode + broadcast
    # join verify (the pre-round-8 shape, on gram hashes)
    stats = ngram_hit_stats_udf(spark, blob, n=n, seed=seed)
    if broadcast_eval:
        ev_ngrams = F.broadcast(ev_ngrams)
    candidates = (
        fan_out(corpus.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), stats(text_col).alias("__st"))
        .filter(F.col("__st.n_hits") >= min_overlap)
    )
    overlap = (
        candidates.select(id_col, F.explode("__st.hits").alias("gh"))
        .join(ev_ngrams, "gh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )
    return overlap
