"""The workloads: what one pass runs, and what its oracle checks.

Each workload calls only the public functions of ``cuckoofilter_spark``.
``run_pass`` is the timed job, from input to every result collected.
``check`` runs after the timed passes; it decides whether the outputs
are right from the generator's planted truth, plain Spark and the pure
checks in ``oracle.py``, never from the library's own code (the
library is used there only to open the blobs a pass returned).
``layer_detail`` runs only in the traced run and times the public
kernel calls on the driver.

Both workloads report the same end-to-end metrics, each defined on the
workload's own filter (README.md lists the definitions):

- ``build_keys_per_s``: keys fed to a cuckoo-filter build / that build;
- ``probe_keys_per_s``: keys probed against a filter / that probe;
- ``fpr_over_bound``:   false positives on known negatives over
                        ``n_neg * 2*4/2^f``;
- ``bits_per_key``:     filter bits / distinct keys inserted.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from sketchbench.gen import DECONTAM_N, SPAN_K
from sketchbench.oracle import (
    Checks, check_deletes, check_fpr, check_pairs, check_probe, check_quantiles,
    check_rows, check_survivors, ngrams,
)

SEED = 7
QUANTILES = (0.01, 0.5, 0.99)
# t-digest at compression 200 keeps a central centroid within about
# 4·q(1-q)/200 = 0.005 of rank; the check allows twice that
TDIGEST_DELTA, TDIGEST_RANK_TOL = 200.0, 0.01
NEG_CHUNK = 1 << 20  # random negatives are drawn and probed in chunks


def _read_column(path: str, col: str) -> np.ndarray:
    return pq.read_table(path, columns=[col]).column(col).to_numpy()


def _false_positives(sketch, rng, n: int) -> int:
    """Hits of ``n`` random 63-bit keys on ``sketch`` (a collision with a
    member has probability ~members/2^63, so every hit is a false
    positive)."""
    fp = 0
    for lo in range(0, n, NEG_CHUNK):
        keys = rng.integers(1, 2**63 - 1, min(NEG_CHUNK, n - lo), dtype=np.int64)
        fp += int(sketch.contains_many(keys.view(np.uint64)).sum())
    return fp


def _timed(d: dict, name: str, fn):
    t0 = time.perf_counter()
    out = fn()
    d[name] = time.perf_counter() - t0
    return out


class IdsUnique:
    """2^20 distinct 64-bit ids: the mechanism workload for the filter
    kernels and the driver merge (every key is new, so the build inserts
    and merges every key; deletes write beside reads)."""

    name = "ids_unique"
    size = 1 << 20
    F_CUCKOO, F_SEMISORT, SHARDS = 12, 13, 8
    # extra random negatives probed on the driver, so the FPR estimate
    # rests on ~5k false positives (binomial spread ~1.4%)
    N_NEG = 1 << 22

    def open(self, spark, inputs: str, manifest: dict) -> None:
        self.dir, self.m = inputs, manifest
        rd = spark.read.parquet
        self.ids = rd(os.path.join(inputs, "ids"))
        self.probe_df = rd(os.path.join(inputs, "probe"))
        self.deletes = rd(os.path.join(inputs, "deletes"))
        self.dim = rd(os.path.join(inputs, "dim"))

    def _probe(self, spark, blob: bytes, tr) -> dict:
        from cuckoofilter_spark.operators.probe import might_contain_udf

        probe = might_contain_udf(spark, blob)
        if tr.enabled:  # broadcast + per-worker deserialize, alone
            with tr.span("operators.probe", "probe_first"):
                spark.range(0, 4096, 1, 4).select(probe("id").alias("h")) \
                    .agg(F.sum(F.col("h").cast("long"))).collect()
        rows = (self.probe_df.groupBy("cls")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(probe("key").cast("long")).alias("hits"))
                .collect())
        return {int(r["cls"]): (int(r["n"]), int(r["hits"])) for r in rows}

    def run_pass(self, spark, tr) -> dict:
        from cuckoofilter_spark.operators.build import build_sketch_shards
        from cuckoofilter_spark.operators.delete import delete_from_shards
        from cuckoofilter_spark.operators.merge import merge_shards_to_blob
        from cuckoofilter_spark.operators.semijoin import filter_semi_join

        n = self.m["rows"]["ids"]
        out = {}
        with tr.span("operators.build", "cuckoo_build"):
            # persisted: the delete step rewrites these same shards
            shards = build_sketch_shards(
                self.ids, "id", kind="cuckoo", lineage=False,
                max_num_keys=n, bits_per_item=self.F_CUCKOO, seed=SEED,
                strategy="shuffle_distinct", shuffle_partitions=self.SHARDS,
            ).persist()
            tr.materialize(shards)
        with tr.span("operators.merge", "cuckoo_merge"):
            out["blob"] = merge_shards_to_blob(shards)
        with tr.span("operators.build", "semisort_build"):
            ss = tr.materialize(build_sketch_shards(
                self.ids, "id", kind="semisort", lineage=False,
                max_num_keys=n, bits_per_item=self.F_SEMISORT, seed=SEED,
                strategy="shuffle_distinct", shuffle_partitions=self.SHARDS,
            ))
        with tr.span("operators.merge", "semisort_merge"):
            out["ss_blob"] = merge_shards_to_blob(ss)
        with tr.span("operators.probe", "probe"):
            out["probe"] = self._probe(spark, out["blob"], tr)
        with tr.span("operators.delete", "delete"):
            after = tr.materialize(delete_from_shards(
                shards, self.deletes, "id", self.SHARDS))
        with tr.span("operators.merge", "remerge"):
            blob2 = merge_shards_to_blob(after)
        with tr.span("operators.probe", "reprobe"):
            out["reprobe"] = self._probe(spark, blob2, tr)
        with tr.span("operators.semijoin", "semijoin"):
            sj = filter_semi_join(self.probe_df, "key", self.dim, "id",
                                  kind="cuckoo", exact=True)
            out["semijoin_keys"] = sj.select("key").toArrow().column(0).to_numpy()
        out["shards"], out["after"], out["ss"] = shards, after, ss
        return out

    def release(self, out: dict) -> None:
        for k in ("shards", "after", "ss"):
            out[k].unpersist()

    def throughput_keys(self) -> dict:
        n = self.m["rows"]["ids"]
        # both probes of the pass (2n keys each); the first also carries
        # the blob broadcast and the UDF's start-up, which
        # operators.probe.first_s reports alone
        return {"build": (n, ("cuckoo_build", "cuckoo_merge")),
                "probe": (4 * n, ("probe", "reprobe"))}

    def check(self, spark, out: dict, chk: Checks) -> dict:
        from cuckoofilter_spark import sketch_from_bytes

        t = self.m["truth"]
        n = t["n_members"]
        fp = check_probe(chk, t, out["probe"], out["reprobe"])
        deleted, not_found = out["after"].agg(
            F.sum("metrics.n_deleted"), F.sum("metrics.n_not_found")).collect()[0]
        check_deletes(chk, t, out["reprobe"], int(deleted or 0), int(not_found or 0),
                      self.F_CUCKOO)
        fp += _false_positives(sketch_from_bytes(out["blob"]),
                               np.random.default_rng(SEED), self.N_NEG)
        ratio = check_fpr(chk, "fpr_within_bound", fp, t["n_negatives"] + self.N_NEG,
                          self.F_CUCKOO)
        keys = _read_column(os.path.join(self.dir, "probe"), "key")
        dim = _read_column(os.path.join(self.dir, "dim"), "id")
        check_rows(chk, "semijoin_equals_exact_semijoin",
                   keys[np.isin(keys, dim)].tolist(), out["semijoin_keys"].tolist())
        return {
            "fpr_over_bound": ratio,
            "bits_per_key": len(out["blob"]) * 8 / n,
            "semisort_bits_per_key": len(out["ss_blob"]) * 8 / n,
        }

    def layer_detail(self, spark, out: dict) -> dict:
        """Driver-side timings of the public kernel calls on this
        workload's own keys and the collected shard blobs."""
        from cuckoofilter_spark import SemiSortCuckooFilter
        from cuckoofilter_spark.operators.semijoin import filter_semi_join

        ids = _read_column(os.path.join(self.dir, "ids"), "id").view(np.uint64)
        keys = _read_column(os.path.join(self.dir, "probe"), "key").view(np.uint64)
        dels = _read_column(os.path.join(self.dir, "deletes"), "id").view(np.uint64)
        d = _cuckoo_kernels(out["shards"], ids, keys, dels, self.F_CUCKOO)
        rows = out["ss"].select("sketch").collect()
        parts = _timed(d, "core.semisort.from_bytes_s", lambda: [
            SemiSortCuckooFilter.from_bytes(bytes(r[0])) for r in rows])
        merged = _timed(d, "core.semisort.merge_many_s",
                        lambda: SemiSortCuckooFilter.merge_many(parts, dedup=True))
        blob = _timed(d, "core.semisort.to_bytes_s", merged.to_bytes)
        d["core.semisort.bits_per_key"] = len(blob) * 8 / len(ids)
        d["operators.delete.keys"] = len(dels)
        d["operators.delete.not_found"] = int(out["after"].agg(
            F.sum("metrics.n_not_found")).collect()[0][0] or 0)
        d["operators.semijoin.filter_pass_rows"] = filter_semi_join(
            self.probe_df, "key", self.dim, "id", kind="cuckoo",
            exact=False).count()
        d["operators.semijoin.exact_rows"] = len(out["semijoin_keys"])
        d["operators.build.rows_in"] = len(ids)
        d["operators.merge.blob_bytes"] = len(out["blob"])
        d["operators.probe.broadcast_bytes"] = len(out["blob"])
        return d


def _cuckoo_kernels(shards, ins, probe_keys, del_keys, f: int) -> dict:
    from cuckoofilter_spark import CuckooFilter

    d = {}
    rows = shards.select("sketch", "metrics").collect()
    parts = _timed(d, "core.cuckoo.from_bytes_s", lambda: [
        CuckooFilter.from_bytes(bytes(r["sketch"])) for r in rows])
    merged = _timed(d, "core.cuckoo.merge_many_s",
                    lambda: CuckooFilter.merge_many(parts, dedup=True))
    d["core.cuckoo.load"] = float(merged.load_factor)
    d["core.cuckoo.kicks_per_key"] = (
        sum(int(r["metrics"]["kicks"]) for r in rows)
        / max(1, sum(int(r["metrics"]["keys"]) for r in rows)))
    d["operators.build.shards"] = d["operators.merge.shards_in"] = len(rows)
    cf = CuckooFilter(len(ins), f, seed=SEED)
    for name, fn, keys in (("add", cf.add_many, ins),
                           ("contains", cf.contains_many, probe_keys),
                           ("delete", cf.delete_many, del_keys)):
        t0 = time.perf_counter()
        fn(keys)
        d[f"core.cuckoo.{name}_mkeys_per_s"] = (
            len(keys) / (time.perf_counter() - t0) / 1e6)
    return d


class CorpusShaping:
    """A tokenized corpus with planted near-dups, exact copies and eval
    contamination: the text, approx, dedup, decontam, spans and
    streaming operators. The cuckoo filter is only a small broadcast
    gate (decontam) or sharded state that each micro-batch probes, then
    inserts into, so this workload bypasses the filter kernels; the
    Zipf token arrays feed the companion sketches through the Arrow
    boundary."""

    name = "corpus_shaping"
    size = 2_000
    # one state shard: at the library's 4096-key per-shard floor, more
    # shards would leave the state nearly empty and its false positives
    # too rare to measure steadily
    THRESHOLD, STREAM_SHARDS, STREAM_F = 0.8, 1, 16
    FILES_PER_BATCH = 4  # the 8 corpus files replay as 2 micro-batches
    N_NEG = 1 << 25      # random keys probed against the streaming state

    def open(self, spark, inputs: str, manifest: dict) -> None:
        self.dir, self.m = inputs, manifest
        self.corpus_dir = os.path.join(inputs, "corpus")
        self.docs = spark.read.parquet(self.corpus_dir)
        self.eval = spark.read.parquet(os.path.join(inputs, "eval"))
        self.n_pass = 0

    def run_pass(self, spark, tr) -> dict:
        from cuckoofilter_spark.operators.approx import (
            approx_distinct, approx_quantiles, cms_sketch,
        )
        from cuckoofilter_spark.operators.build import build_sketch_shards
        from cuckoofilter_spark.operators.decontam import (
            decontaminate, eval_ngram_filter, overlap_report,
        )
        from cuckoofilter_spark.operators.dedup import near_dup_pairs_minhash
        from cuckoofilter_spark.operators.merge import merge_shards_to_blob
        from cuckoofilter_spark.operators.spans import duplicated_span_stats
        from cuckoofilter_spark.operators.text import gopher_stats, with_text_stats
        from cuckoofilter_spark.streaming.sketch_stream import run_streaming_dedup

        out = {}
        with tr.span("operators.text", "text_stats"):
            out["stats_rows"] = with_text_stats(self.docs).agg(
                F.count(F.lit(1)), F.sum("quality_milli")).collect()[0][0]
        with tr.span("operators.text", "gopher"):
            out["gopher_docs"] = gopher_stats(
                self.docs, stopwords=self.m["truth"]["stopwords"]
            ).agg(F.sum("n_docs")).collect()[0][0]
        with tr.span("operators.approx", "bloom"):
            b = build_sketch_shards(self.docs, "tokens", kind="bloom",
                                    lineage=False, log_num_buckets=12, seed=SEED)
            out["bloom_blob"] = merge_shards_to_blob(b, dedup=False)
        with tr.span("operators.approx", "hll"):
            out["hll"] = approx_distinct(self.docs, "tokens", p=14, seed=SEED)
        with tr.span("operators.approx", "cms"):
            cms = cms_sketch(self.docs, "tokens", eps=0.0001, delta=0.01, seed=SEED)
            out["cms_hot"] = cms.query_many(np.asarray(
                self.m["truth"]["hot_tokens"], dtype=np.uint64))
        with tr.span("operators.approx", "tdigest"):
            out["quantiles"] = approx_quantiles(
                self.docs, "n_tok", list(QUANTILES), kind="tdigest",
                delta=TDIGEST_DELTA, seed=SEED)
        with tr.span("operators.dedup", "minhash"):
            out["pairs"] = near_dup_pairs_minhash(
                self.docs, "doc_id", "text", threshold=self.THRESHOLD).collect()
        # after minhash, which first imports the shingle kernels that
        # decontam shares, so the probe rate below carries less import time
        with tr.span("operators.decontam", "decontam"):
            if tr.enabled:  # decontaminate's two halves, each in a span
                with tr.span("operators.decontam", "eval_filter"):
                    blob, ev = eval_ngram_filter(
                        self.eval, "text", n=DECONTAM_N, seed=SEED)
                    out["eval_blob"] = blob
                with tr.span("operators.decontam", "overlap"):
                    rep = overlap_report(self.docs, blob, ev, "doc_id", "text",
                                         n=DECONTAM_N, seed=SEED)
                    out["decontam"] = rep.collect()
            else:
                out["decontam"] = decontaminate(
                    self.docs, self.eval, "doc_id", "text", n=DECONTAM_N,
                    seed=SEED).collect()
        with tr.span("operators.spans", "spans"):
            out["span_rows"] = duplicated_span_stats(
                self.docs, "doc_id", "text", k=SPAN_K, min_count=4,
            ).agg(F.count(F.lit(1)), F.sum("covered")).collect()[0][0]
        self.n_pass += 1
        sdir = out["stream_dir"] = os.path.join(self.work, f"stream-{self.n_pass}")
        with tr.span("streaming", "stream"):
            stream = (spark.readStream.schema(self.docs.schema)
                      .option("maxFilesPerTrigger", self.FILES_PER_BATCH)
                      .parquet(self.corpus_dir))
            run_streaming_dedup(
                stream, "doc_id", "text", out_dir=os.path.join(sdir, "out"),
                checkpoint_dir=os.path.join(sdir, "ckpt"),
                capacity=self.m["rows"]["docs"], bits_per_item=self.STREAM_F,
                seed=SEED, num_shards=self.STREAM_SHARDS)
        return out

    def release(self, out: dict) -> None:
        shutil.rmtree(out["stream_dir"], ignore_errors=True)

    def throughput_keys(self) -> dict:
        # both steps probe every corpus gram against a broadcast cuckoo
        # gate: decontam its 8-grams against the eval filter, spans its
        # 3-gram positions against the frequent-gram filter
        rows = self.m["rows"]
        return {"build": (rows["docs"], ("stream",)),
                "probe": (rows["ngrams"] + rows["span_grams"], ("decontam", "spans"))}

    def _state(self, out: dict) -> list:
        """Live streaming-dedup state: per shard, the newest row."""
        live = {}
        for path in glob.glob(os.path.join(
                out["stream_dir"], "out", "_filter", "shards", "*", "*.parquet")):
            for r in pq.read_table(path).to_pylist():
                cur = live.get(r["shard_id"])
                if cur is None or r["state_batch"] > cur["state_batch"]:
                    live[r["shard_id"]] = r
        return list(live.values())

    def check(self, spark, out: dict, chk: Checks) -> dict:
        from cuckoofilter_spark import sketch_from_bytes

        t, n_docs = self.m["truth"], self.m["rows"]["docs"]
        chk.add("text_stats_one_row_per_doc", 1, int(out["stats_rows"] != n_docs))
        chk.add("gopher_counts_every_doc", 1, int(out["gopher_docs"] != n_docs))
        chk.add("spans_one_row_per_doc", 1, int(out["span_rows"] != n_docs))
        self._check_approx(out, chk)

        texts = pq.read_table(self.corpus_dir, columns=["doc_id", "text"])
        by_id = dict(zip(texts.column("doc_id").to_pylist(),
                         texts.column("text").to_pylist()))
        ev = set().union(*map(ngrams, _read_column(os.path.join(self.dir, "eval"), "text")))
        want = [(d, len(ngrams(txt) & ev)) for d, txt in by_id.items()]
        got = [(int(r[0]), int(r[1])) for r in out["decontam"]]
        check_rows(chk, "decontam_equals_exact_overlap", [w for w in want if w[1]], got)
        planted = set(t["contaminated_doc_ids"])
        chk.add("decontam_flags_planted", len(planted),
                len(planted - {d for d, _ in got}))

        reported = [(int(r[0]), int(r[1])) for r in out["pairs"]]
        check_pairs(chk, by_id, reported,
                    t["near_dup_pairs"] + t["exact_copy_pairs"], self.THRESHOLD)
        found = {tuple(sorted(p)) for p in reported}
        recall = (sum(tuple(p) in found for p in t["near_dup_pairs"])
                  / max(1, len(t["near_dup_pairs"])))

        sdir = os.path.join(out["stream_dir"], "out")
        surv = pq.read_table(os.path.join(sdir, "data"),
                             columns=["text"]).column("text").to_pylist()
        distinct = set(by_id.values())
        chk.add("distinct_texts_match_manifest", 1,
                int(len(distinct) != t["n_distinct_texts"]))
        check_survivors(chk, surv, distinct, n_docs, self.STREAM_F)
        state = self._state(out)
        chk.add("stream_state_keys_equal_survivors", 1,
                int(sum(r["n_keys"] for r in state) != len(set(surv))))
        # FPR of the final state on random keys
        rng = np.random.default_rng(SEED)
        per = self.N_NEG // len(state)
        fp = sum(_false_positives(sketch_from_bytes(r["sketch"]), rng, per)
                 for r in state)
        ratio = check_fpr(chk, "stream_state_fpr_within_bound", fp,
                          per * len(state), self.STREAM_F)
        return {
            "fpr_over_bound": ratio,
            "bits_per_key": (sum(len(r["sketch"]) for r in state) * 8
                             / max(1, sum(r["n_keys"] for r in state))),
            "neardup_recall": recall,
            "state_bytes": _dir_bytes(os.path.join(sdir, "_filter")),
            "dropped_rows": n_docs - len(surv),
        }

    def _check_approx(self, out: dict, chk: Checks) -> None:
        from cuckoofilter_spark import sketch_from_bytes

        t, n_tok = self.m["truth"], self.m["rows"]["tokens"]
        tokens = pq.read_table(self.corpus_dir, columns=["tokens"]).column("tokens")
        distinct = np.unique(tokens.combine_chunks().flatten().to_numpy()) \
            .astype(np.uint64)
        chk.add("distinct_tokens_match_manifest", 1,
                int(len(distinct) != t["n_distinct_tokens"]))
        bloom = sketch_from_bytes(out["bloom_blob"])
        chk.add("bloom_no_false_negatives", len(distinct),
                int((~bloom.contains_many(distinct)).sum()))
        rel = abs(out["hll"] / t["n_distinct_tokens"] - 1)
        chk.add("hll_within_5_sigma", 1, int(rel > 5 * 1.04 / 2 ** 7), rel_err=rel)
        over = out["cms_hot"].astype(np.int64) - np.asarray(t["hot_counts"])
        chk.add("cms_bounds", len(over),
                int(((over < 0) | (over > 4 * 0.0001 * n_tok)).sum()))
        check_quantiles(chk, _read_column(self.corpus_dir, "n_tok"), QUANTILES,
                        out["quantiles"], TDIGEST_RANK_TOL)

    def layer_detail(self, spark, out: dict) -> dict:
        from cuckoofilter_spark.operators.decontam import contamination_count_udf
        from cuckoofilter_spark.operators.dedup import (
            lsh_candidate_pairs, minhash_signatures, minhash_table,
        )

        d = {}
        hits = contamination_count_udf(spark, out["eval_blob"], n=DECONTAM_N,
                                       seed=SEED)
        d["operators.decontam.candidate_docs"] = self.docs.filter(
            hits("text") >= 1).count()
        d["operators.decontam.flagged_docs"] = len(out["decontam"])
        _timed(d, "operators.dedup.minhash_table_s",
               lambda: minhash_table(self.docs, "doc_id", "text").count())
        d["operators.dedup.candidate_pairs"] = lsh_candidate_pairs(
            minhash_signatures(self.docs, "doc_id", "text")).count()
        d["operators.dedup.verified_pairs"] = len(out["pairs"])
        return d


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(path) for f in fs)


WORKLOADS = {w.name: w for w in (IdsUnique, CorpusShaping)}
