"""Distributed sketch build: the partial-aggregate half of a UDAF.

One pass over the input, zero shuffles (unless the caller asks for a
salted repartition to defuse skew): each input partition feeds one
numpy sketch inside ``mapInArrow`` and emits exactly ONE row
``(shard_id, kind, sketch, metrics, lineage)`` — the ``sketch_shards``
shape of FIXTURES.md §3. ``tree_merge`` (operators/merge.py) is the
final-aggregate half.

Scale notes (the whole point):
- token arrays are flattened **inside Arrow** (``ListArray.values`` is
  zero-copy); no ``F.explode`` — exploding 10^12 sequences would
  multiply the row count by ~300 before a shuffle that set-membership
  build doesn't need.
- per-partition ``np.unique`` gives local set semantics; cross-shard
  duplicates collapse in the dedup tree-merge. Global shuffle-free.
- the only Python<->JVM traffic is Arrow record batches in and P
  sketch rows out (P = number of partitions).
- cuckoo shards must share the GLOBAL geometry (capacity sized for the
  merged total with headroom ≤0.85 load — a merged filter at >0.96
  load can overflow; reference guard at ``src/cuckoofilter.h:92-95``).

Reference parity anchors: bulk add loop = ``AddImpl``
(``src/cuckoofilter.h:139-162``); this operator is the distributed
re-expression of ``benchmarks/bulk-insert-and-query.cc:154-170``'s
"time adds until full" loop.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark.sql.types import ArrayType, StringType

from cuckoofilter_spark.core.registry import SKETCH_KINDS, wire_bytes

_ARRAY_TYPES = ArrayType


def string_key_expr(col: str | Column) -> Column:
    """JVM-side pre-hash for string keys: ``xxhash64(col)`` (the role
    of the reference's string ``HashUtil`` overloads,
    src/hashutil.h:19-41, done vectorized inside codegen instead of a
    per-row Python loop). The SAME expression must wrap the probe-side
    column — build and probe agree on the 64-bit key space."""
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(c)

SHARD_SCHEMA = (
    "shard_id int, kind string, sketch binary, "
    "metrics struct<keys:long, load:double, bytes:long, kicks:long, "
    "n_deleted:long, n_not_found:long>, "
    "strategy string, num_shards int, lineage array<string>"
)

METRICS_FIELDS = pa.struct(
    [
        ("keys", pa.int64()),
        ("load", pa.float64()),
        ("bytes", pa.int64()),
        ("kicks", pa.int64()),
        ("n_deleted", pa.int64()),
        ("n_not_found", pa.int64()),
    ]
)


def check_add_statuses(statuses, where: str) -> None:
    """Fail loudly when a membership filter refused inserts.

    ``CuckooFilter.add_many`` returns a per-key Status array; a
    NotEnoughSpace there means the key was DROPPED — the merged filter
    would silently answer false negatives for it, the one thing the
    contract forbids (reference guarantee: src/cuckoofilter.h:126-135
    surfaces the status to the caller; discarding it here would erase
    that contract). Non-membership sketches return None — no-op."""
    if statuses is None:
        return
    import numpy as _np

    n_bad = int(_np.count_nonzero(statuses))
    if n_bad:
        raise ValueError(
            f"{where}: {n_bad} key(s) refused with NotEnoughSpace — "
            f"filter capacity exceeded; raise max_num_keys (a dropped "
            f"key would become a silent false negative)"
        )


def metrics_dict(sk, blob: bytes, *, n_deleted: int = 0,
                 n_not_found: int = 0) -> dict:
    """Uniform metrics struct for a shard row (build/merge/delete)."""
    n_keys = getattr(sk, "num_items", None)
    if n_keys is None:
        n_keys = getattr(sk, "n", 0)
    return {
        "keys": int(n_keys),
        "load": float(getattr(sk, "load_factor", 0.0)),
        "bytes": len(blob),
        "kicks": int(getattr(sk, "kicks", 0)),
        "n_deleted": int(n_deleted),
        "n_not_found": int(n_not_found),
    }


def _to_uint64(arr: pa.ChunkedArray | pa.Array) -> np.ndarray:
    """Arrow column -> flat uint64 key array, flattening one list level.

    Integers are reinterpreted (int64 -1 == uint64 2^64-1, matching how
    the JVM side's xxhash64 output would be viewed); nulls dropped.
    """
    if isinstance(arr, pa.ChunkedArray):
        chunks = arr.chunks
    else:
        chunks = [arr]
    out = []
    for c in chunks:
        if pa.types.is_list(c.type) or pa.types.is_large_list(c.type):
            c = c.flatten()
        if c.null_count:
            c = c.drop_null()
        np_arr = c.to_numpy(zero_copy_only=False)
        out.append(np_arr.astype(np.int64, copy=False).view(np.uint64))
    if not out:
        return np.empty(0, dtype=np.uint64)
    return np.concatenate(out)


def _to_float64(arr: pa.ChunkedArray) -> np.ndarray:
    out = []
    for c in arr.chunks if isinstance(arr, pa.ChunkedArray) else [arr]:
        if pa.types.is_list(c.type) or pa.types.is_large_list(c.type):
            c = c.flatten()
        if c.null_count:
            c = c.drop_null()
        out.append(c.to_numpy(zero_copy_only=False).astype(np.float64, copy=False))
    if not out:
        return np.empty(0, dtype=np.float64)
    return np.concatenate(out)


def _fast_unique(a: np.ndarray) -> np.ndarray:
    """``np.unique`` with an O(n + range) occupancy-table fast path
    for large batches of NON-NEGATIVE NARROW-RANGE keys (token-id
    vocabularies: ids < 2^24). A boolean scatter + ``flatnonzero``
    replaces the sort — measured ~10x on 9.2M-token partitions —
    and the output (sorted distinct values, input dtype) is
    identical. Wide-range keys (64-bit hashes) take the sort path
    unchanged."""
    if len(a) >= (1 << 16) and a.dtype.kind in "iu":
        mn = a.min()
        if int(mn) >= 0:
            mx = int(a.max())
            if mx < (1 << 24):  # 16 MB of flags, cache-friendly
                flags = np.zeros(mx + 1, dtype=bool)
                flags[a] = True
                return np.flatnonzero(flags).astype(a.dtype, copy=False)
    return np.unique(a)


def _fast_unique_counts(a: np.ndarray):
    """(unique, counts) with the same narrow-range fast path as
    ``_fast_unique`` (``np.bincount`` instead of a sort; 32 MB count
    table cap). Identical output to ``np.unique(a,
    return_counts=True)``."""
    if len(a) >= (1 << 16) and a.dtype.kind in "iu":
        mn = a.min()
        if int(mn) >= 0:
            mx = int(a.max())
            if mx < (1 << 22):  # 32 MB of int64 counts
                cnt = np.bincount(a.astype(np.int64, copy=False))
                uniq = np.flatnonzero(cnt)
                return uniq.astype(a.dtype, copy=False), cnt[uniq]
    return np.unique(a, return_counts=True)


def _partition_unique(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Per-partition distinct of a list-typed key column, in Arrow:
    flatten (zero-copy), drop nulls (explode+isNotNull parity), one
    ``np.unique`` over the partition. Emits the keys with their input
    element dtype so downstream hashing/partitioning sees exactly the
    values the exploded form would have produced."""
    parts: list[np.ndarray] = []
    for b in batches:
        col = b.column(0)
        if pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
            col = col.flatten()
        if col.null_count:
            col = col.drop_null()
        if len(col):
            parts.append(col.to_numpy(zero_copy_only=False))
    if parts:
        u = _fast_unique(np.concatenate(parts))
        yield pa.RecordBatch.from_pydict({"__v": pa.array(u)})


def shard_key_expr(col: str | Column) -> Column:
    """The expression shuffle_distinct shards partition on. Kept as a
    named single source of truth: ``delete_from_shards`` recomputes
    shard ownership as pmod(hash(shard_key_expr(key)), num_shards)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.hash(c)


def shard_id_expr(col: str | Column, num_shards: int) -> Column:
    """Owning shard id of a key under the shuffle_distinct layout."""
    return F.pmod(F.hash(shard_key_expr(col)), F.lit(num_shards))


def salted_repartition(
    df: DataFrame, num_partitions: int, key: str | Column, salt: int = 42
) -> DataFrame:
    """Explicit skew defusal: spread rows of a dominant key (e.g. one
    ``source`` holding 60% of docs) uniformly over ``num_partitions``.

    ``repartition`` alone hashes the raw key — every row of the hot key
    lands on ONE reducer. Salting hashes (key, xxhash64(doc)) so hot
    keys fan out. AQE's skew splitting does not apply inside
    ``mapInArrow``/``applyInPandas`` groups, hence the explicit salt
    (SURVEY.md §4)."""
    key_col = F.col(key) if isinstance(key, str) else key
    # hash-partition on the full 64-bit salted hash (NOT a pre-bucketed
    # pmod — re-hashing P small values collides them into < P buckets);
    # spark_partition_id adds per-row entropy so one hot key fans out.
    return df.repartition(
        num_partitions,
        F.xxhash64(key_col, F.spark_partition_id(), F.lit(salt)),
    )


def build_sketch_shards(
    df: DataFrame,
    column: str,
    *,
    kind: str = "cuckoo",
    distinct: bool = True,
    lineage: bool = True,
    weight_by_count: bool = False,
    strategy: str = "local",
    shuffle_partitions: int | None = None,
    **params,
) -> DataFrame:
    """Per-partition sketch build -> one shard row per partition.

    ``column`` may be a scalar numeric column or an ``array<int>``
    column (flattened zero-copy in Arrow). For ``kind='cuckoo'`` pass
    ``max_num_keys`` (GLOBAL capacity) and optionally ``bits_per_item``
    / ``seed``; other kinds take their own constructor params.

    ``distinct=True`` inserts each locally-distinct key once (set
    semantics — required for membership filters over repetitive
    streams). For frequency sketches (cms) set
    ``weight_by_count=True`` to add local counts instead, which is
    exact and cheaper than feeding duplicates one by one.

    ``strategy`` picks the distributed plan for membership builds:

    - ``'local'`` (default): zero-shuffle — per input partition,
      locally-distinct keys feed one filter; the dedup tree-merge
      collapses cross-shard duplicates. Optimal when the key space is
      SPARSE relative to a shard (each shard sees few repeats of the
      global key set): merge work = Σ per-shard distinct ≈ global
      distinct.
    - ``'shuffle_distinct'``: hash-route every key to the reducer
      that owns it (``shard_id_expr``), so each reducer builds a
      filter over a DISJOINT key range and dedupes it locally in the
      build kernel — the local unique is the global distinct, whatever
      ``distinct`` says. A scalar column takes ONE exchange straight
      into the kernel. An array column first collapses each input
      partition in Arrow (flatten + ``np.unique``, no explode), then
      a JVM distinct (partial aggregate + exchange) shrinks the
      stream to ≈cardinality rows before the routing exchange.
      Either way the kernel inserts each shard's keys in sorted
      order, so shard bytes do not depend on shuffle fetch order.
      Optimal when the key space SATURATES each shard (hot vocab:
      every partition sees most keys) — merge work collapses from
      P×cardinality to exactly cardinality. For a 2^20-token vocab at
      10^12 sequences this is the difference between 10^11 and 10^6
      merge inserts.
    """
    cls = SKETCH_KINDS[kind]
    value_based = kind in ("tdigest", "kll")
    if strategy not in ("local", "shuffle_distinct", "shuffle_count",
                        "shuffle_value_count"):
        raise ValueError(f"unknown build strategy {strategy!r}")
    # reducer count of the shuffle strategies; shard rows record it (and
    # their build strategy) so downstream operators (delete_from_shards)
    # can validate routing assumptions (-1 = n/a)
    n_parts = -1
    if strategy != "local":
        n_parts = int(
            shuffle_partitions
            or df.sparkSession.sparkContext.defaultParallelism
        )
    if strategy == "shuffle_value_count":
        # Value-sketch analog of shuffle_count: Catalyst's map-side
        # partial COUNT collapses a DISCRETE value column (n_tok:
        # thousands of distinct values across billions of rows)
        # JVM-side, so the python boundary carries (value, count)
        # pairs at ~cardinality rows and the digest does one
        # add_weighted insert per distinct value. For t-digest the
        # tie-collapsing compress makes this state-identical to the
        # per-occurrence build on low-cardinality domains; KLL uses
        # binary weight decomposition (same rank guarantee).
        if not value_based:
            raise ValueError(
                "shuffle_value_count requires a value-based sketch "
                "(tdigest, kll)"
            )
        lineage = False
        src = df.select(F.col(column).alias("__v"))
        if isinstance(src.schema["__v"].dataType, _ARRAY_TYPES):
            src = src.select(F.explode("__v").alias("__v"))
        # null parity with _to_float64's null-dropping
        src = src.filter(F.col("__v").isNotNull())
        projected = (
            src.groupBy("__v").agg(F.count(F.lit(1)).alias("__c"))
            .repartition(n_parts, shard_key_expr("__v"))
        )
    elif strategy == "shuffle_count":
        # Frequency-sketch analog of shuffle_distinct: Catalyst's
        # map-side partial COUNT collapses the token stream JVM-side,
        # so the python boundary carries (key, count) pairs at
        # ~cardinality rows instead of every occurrence — same 23 GB →
        # 16 MB transfer collapse, with the exact per-key totals a
        # weighted CMS insert needs.
        if value_based or not weight_by_count:
            raise ValueError(
                "shuffle_count requires a weight_by_count frequency "
                "sketch (cms)"
            )
        lineage = False
        src = df.select(F.col(column).alias("__v"))
        if isinstance(src.schema["__v"].dataType, _ARRAY_TYPES):
            src = src.select(F.explode("__v").alias("__v"))
        if isinstance(src.schema["__v"].dataType, StringType):
            src = src.select(string_key_expr("__v").alias("__v"))
        # drop null keys JVM-side to match the local path's semantics
        # (_to_uint64 drops nulls): a null array element or null scalar
        # would otherwise become a groupBy row whose key _to_uint64
        # removes while its count survives — misaligned add_many arrays
        src = src.filter(F.col("__v").isNotNull())
        # groupBy carries its own ENSURE_REQUIREMENTS exchange; the
        # explicit user-numbered repartition on a DIFFERENT expression
        # (shard hash) dodges the same two AQE traps as
        # shuffle_distinct below
        projected = (
            src.groupBy("__v").agg(F.count(F.lit(1)).alias("__c"))
            .repartition(n_parts, shard_key_expr("__v"))
        )
    elif strategy == "shuffle_distinct":
        if value_based or weight_by_count:
            raise ValueError(
                "shuffle_distinct is a membership-build strategy"
            )
        lineage = False  # provenance dissolves across the shuffle
        # Hash routing puts every copy of a key on one shard, so the
        # build kernel's local unique IS the global distinct, whatever
        # the caller's ``distinct`` says. Its sorted output also fixes
        # the insert order: shard bytes do not depend on the order the
        # shuffle fetched blocks in (design rule 4, task retries).
        distinct = True
        dt = df.schema[column].dataType
        if isinstance(dt, _ARRAY_TYPES):
            # Round 8: per-partition np.unique in Arrow replaces the
            # exploded JVM distinct. The distinct's partial
            # hash-aggregate over every exploded occurrence was ~85%
            # of the collapse (measured 4.7 s for explode→distinct vs
            # 0.8 s for the bare explode+scan at the sf1.0 step, 293M
            # tokens). Values and ELEMENT TYPE are preserved (int
            # arrays stay int), so the distinct set per shard, the
            # shard-routing hash and the final filter semantics are
            # identical to the exploded form.
            elem = dt.elementType
            key_col = F.col(column)
            if isinstance(elem, StringType):
                # hash BEFORE distinct: the shuffle then moves 8-byte
                # hashes, never the strings themselves
                key_col = F.transform(key_col, string_key_expr)
                elem_sql = "bigint"
            else:
                elem_sql = elem.simpleString()
            src = df.select(key_col.alias("__a")).mapInArrow(
                _partition_unique, f"__v {elem_sql}"
            )
            # The JVM distinct STAYS after the pre-unique (measured,
            # round 8): dropping it in favor of one exchange straight
            # into the builder ships P×per-partition-cardinality rows
            # (29M at sf1.0) across the Arrow boundary into the build
            # stage, where the distinct's final aggregate collapses
            # them to ~cardinality rows (1M) first — interleaved A/B:
            # two-exchange plan 5.9 s vs single-exchange 8.1 s. The
            # boundary crossing, not the aggregate, is the expensive
            # resource. Then the explicit user-numbered repartition of
            # the survivors dodges two AQE traps: (a) AQE sizes
            # partitions by BYTES and would coalesce the ~8B/key
            # distinct output into one partition, serializing the
            # python build; (b) repartition(n, "__v") gets COLLAPSED
            # into the distinct's own ENSURE_REQUIREMENTS exchange
            # (same clustering), which AQE may coalesce — hash(__v)
            # stays a distinct, non-coalescible expression. Shard
            # ownership stays computable (shard_key_expr).
            projected = src.distinct().repartition(
                n_parts, shard_key_expr("__v")
            )
        else:
            src = df.select(F.col(column).alias("__v"))
            if isinstance(src.schema["__v"].dataType, StringType):
                src = src.select(string_key_expr("__v").alias("__v"))
            # null-key parity with the local path (see shuffle_count
            # above)
            src = src.filter(F.col("__v").isNotNull())
            # SCALAR columns: ONE user-numbered exchange straight into
            # the build kernel, whose unique is the distinct. A JVM
            # distinct in front (partial aggregate, exchange, final
            # aggregate) removes nothing from unique-key input (ids,
            # hashes) yet shuffles it twice: on 2^20 unique ids it was
            # ~40% of the cuckoo build+merge CPU (25.8 vs 15.4 CPU-s,
            # medians of 10 cold runs on a 4-core box). The explicit
            # partition count keeps AQE from coalescing the shuffle
            # into one python build task; partitioning on hash(__v)
            # keeps shard ownership computable (shard_key_expr).
            projected = src.repartition(n_parts, shard_key_expr("__v"))
    else:
        if lineage:
            try:
                lineage = bool(df.inputFiles())
            except Exception:
                lineage = False
        dt = df.schema[column].dataType
        key_col = F.col(column)
        if isinstance(dt, StringType):
            key_col = string_key_expr(key_col)
        elif isinstance(dt, _ARRAY_TYPES) and isinstance(
            dt.elementType, StringType
        ):
            key_col = F.transform(key_col, string_key_expr)
        sel = [key_col.alias("__v")]
        if lineage:
            # hidden per-row file provenance from the file-source scan
            sel.append(F.col("_metadata.file_path").alias("__file"))
        projected = df.select(*sel)

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sk = cls(**params)
        files: set = set()
        pieces: list[np.ndarray] = []
        cnt_pieces: list[np.ndarray] = []
        for b in batches:
            col = b.column(0)
            if lineage and b.num_columns > 1:
                files.update(b.column(1).unique().to_pylist())
            if value_based:
                vals = _to_float64(col)
                if len(vals):
                    if strategy == "shuffle_value_count":
                        # (value, count) pairs — no nulls survive the
                        # JVM-side filter, so columns stay aligned
                        sk.add_weighted(
                            vals,
                            b.column(1).to_numpy(zero_copy_only=False)
                            .astype(np.int64),
                        )
                    else:
                        sk.add_many(vals)  # digests self-compress
            else:
                keys = _to_uint64(col)
                if len(keys):
                    pieces.append(keys)
                    if strategy == "shuffle_count":
                        # pre-aggregated (key, count) pairs from the
                        # JVM groupBy — keys are globally disjoint per
                        # reducer, no local re-unique needed
                        cnt_pieces.append(
                            b.column(1).to_numpy(zero_copy_only=False)
                            .astype(np.int64)
                        )
        n_in = 0
        if not value_based and pieces:
            keys = np.concatenate(pieces)
            n_in = len(keys)
            if strategy == "shuffle_count":
                sk.add_many(keys, np.concatenate(cnt_pieces))
            elif weight_by_count:
                uniq, counts = _fast_unique_counts(keys)
                sk.add_many(uniq, counts)
            else:
                if distinct:
                    keys = _fast_unique(keys)
                check_add_statuses(
                    sk.add_many(keys), f"build_sketch_shards[{kind}]"
                )
        tc = TaskContext.get()
        shard_id = tc.partitionId() if tc is not None else 0
        blob = wire_bytes(sk)  # transport format; final blob packs
        yield pa.RecordBatch.from_pydict(
            {
                "shard_id": pa.array([shard_id], pa.int32()),
                "kind": pa.array([kind]),
                "sketch": pa.array([blob], pa.binary()),
                "metrics": pa.array([metrics_dict(sk, blob)], METRICS_FIELDS),
                "strategy": pa.array([strategy]),
                "num_shards": pa.array([n_parts], pa.int32()),
                "lineage": pa.array([sorted(files)], pa.list_(pa.string())),
            }
        )

    return projected.mapInArrow(build, SHARD_SCHEMA)
