"""Per-layer ledger of the traced run.

Layers are named after the package modules. Every workload reports
every metric; a layer the workload never calls reads 0 (no time, no
work). Step times are medians over the traced passes; engine counters
come from Spark's event log, attributed to spans, and are given per
traced pass.
"""

from __future__ import annotations

import json
import statistics
from datetime import datetime

from sketchbench.trace import (
    attribute_jobs, event_log_lines, parse_event_log, self_times,
)

ENGINE_LAYERS = (
    "operators.build", "operators.merge", "operators.probe",
    "operators.delete", "operators.semijoin", "operators.approx",
    "operators.text", "operators.decontam", "operators.dedup",
    "operators.spans", "streaming",
)
ENGINE = (("exec_cpu_s", "s"), ("gc_s", "s"), ("shuffle_bytes", "bytes"),
          ("python_bytes_sent", "bytes"), ("python_bytes_received", "bytes"),
          ("python_s", "s"))
# per-layer wall time: the layer's outermost spans, summed per pass
LAYER_S = ("operators.build", "operators.merge", "operators.probe",
           "operators.delete", "operators.semijoin", "operators.spans")
# step-time metrics: summed per pass over the named workload steps
STEP_S = {
    "operators.probe.first_s": "probe_first",
    "operators.approx.hll_s": "hll", "operators.approx.cms_s": "cms",
    "operators.approx.tdigest_s": "tdigest", "operators.approx.bloom_s": "bloom",
    "operators.text.stats_s": "text_stats", "operators.text.gopher_s": "gopher",
    "operators.decontam.eval_filter_s": "eval_filter",
    "operators.decontam.overlap_s": "overlap",
    "operators.dedup.pairs_s": "minhash",
}
# metrics measured by the workload's layer_detail (driver-side kernel
# timings and counts); 0 where the workload does not call the layer
DETAIL = (
    ("core.cuckoo.add_mkeys_per_s", "Mkeys/s"),
    ("core.cuckoo.contains_mkeys_per_s", "Mkeys/s"),
    ("core.cuckoo.delete_mkeys_per_s", "Mkeys/s"),
    ("core.cuckoo.merge_many_s", "s"), ("core.cuckoo.from_bytes_s", "s"),
    ("core.cuckoo.kicks_per_key", "ratio"), ("core.cuckoo.load", "ratio"),
    ("core.semisort.to_bytes_s", "s"), ("core.semisort.from_bytes_s", "s"),
    ("core.semisort.merge_many_s", "s"), ("core.semisort.bits_per_key", "bits"),
    ("operators.build.rows_in", "count"), ("operators.build.shards", "count"),
    ("operators.merge.shards_in", "count"), ("operators.merge.blob_bytes", "bytes"),
    ("operators.probe.broadcast_bytes", "bytes"),
    ("operators.delete.keys", "count"), ("operators.delete.not_found", "count"),
    ("operators.semijoin.filter_pass_rows", "count"),
    ("operators.semijoin.exact_rows", "count"),
    ("operators.decontam.candidate_docs", "count"),
    ("operators.decontam.flagged_docs", "count"),
    ("operators.dedup.minhash_table_s", "s"),
    ("operators.dedup.candidate_pairs", "count"),
    ("operators.dedup.verified_pairs", "count"),
)


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _progress_events(lines) -> list[dict]:
    """Structured Streaming progress events, with trigger time ``_t``."""
    out = []
    for line in lines:
        if "QueryProgressEvent" not in line:
            continue
        p = json.loads(line).get("progress", {})
        ts = p.get("timestamp")
        if ts:
            p["_t"] = datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
            out.append(p)
    return out


def per_layer(bench, detail: dict, quality: dict, event_log: tuple) -> dict:
    """Name -> value for every metric of ``names()``; ``event_log`` is
    ``(event_dir, app_id)`` of the measured session."""
    spans = bench.tr.spans
    by_id = {s["id"]: s for s in spans}
    roots = [s for s in spans if s["name"] == "pass"]
    n_traced = max(1, len(roots))
    per_span = attribute_jobs(parse_event_log(event_log_lines(*event_log)), spans)

    def root_of(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
        return s["id"]

    m = {f"session.{k}": bench.setup[k] for k in ("start_s", "warm_s", "open_s")}
    m["session.cold_pass_s"] = bench.passes["job"][0]["wall"]
    m["session.setup_wall_s"] = bench.setup["wall_s"]
    m["session.jvm_peak_rss_mb"] = bench.rss_mb["jvm"]
    outer = [s for s in spans if s["name"] != "pass" and (
        s["parent"] is None or by_id[s["parent"]]["name"] != s["name"])]
    for layer in LAYER_S:
        per_pass = {r["id"]: 0.0 for r in roots}
        for s in outer:
            if s["name"] == layer:
                per_pass[root_of(s)] += s["end"] - s["start"]
        m[f"{layer}.s"] = _med(list(per_pass.values()))
    traced_steps = [p["steps"] for p in bench.passes["traced"]]
    for name, step in STEP_S.items():
        m[name] = _med([st.get(step, 0.0) for st in traced_steps])
    for name, _ in DETAIL:
        m[name] = float(detail.get(name, 0.0))

    m["operators.build.max_task_s"] = max(
        (per_span[s["id"]]["max_task_s"] for s in spans
         if s["name"] == "operators.build"), default=0.0)
    m["operators.merge.driver_rss_delta_mb"] = max(
        (s["rss_mb_end"] - s["rss_mb_start"] for s in spans
         if s["name"] == "operators.merge"), default=0.0)
    m["operators.dedup.recall"] = quality.get("neardup_recall", 0.0)

    stream_spans = [s for s in spans if s["name"] == "streaming"]
    progress = [p for p in _progress_events(event_log_lines(*event_log))
                if any(s["start"] <= p["_t"] <= s["end"] for s in stream_spans)]
    batches = len(progress) / n_traced
    state = quality.get("state_bytes", 0)
    m["streaming.batches"] = batches
    m["streaming.batch_s_p50"] = _med([p.get("batchDuration", 0) / 1000.0
                                       for p in progress])
    m["streaming.state_bytes"] = state
    m["streaming.state_bytes_per_batch"] = state / batches if batches else 0.0
    m["streaming.dropped_rows"] = quality.get("dropped_rows", 0)

    for layer in ENGINE_LAYERS:
        for k, _ in ENGINE:
            m[f"{layer}.{k}"] = sum(per_span[s["id"]][k] for s in spans
                                    if s["name"] == layer) / n_traced
    for k in ("task_wait_s", "task_retries", "spill_bytes"):
        m[f"engine.{k}"] = sum(per_span[s["id"]][k] for s in spans) / n_traced

    plain = _med([p["wall"] for p in bench.passes["plain"]])
    traced = _med([p["wall"] for p in bench.passes["traced"]])
    st = self_times(spans)
    m["trace.untraced_wall_s"] = plain
    m["trace.traced_wall_s"] = traced
    m["trace.overhead_s"] = traced - plain
    # share of each traced pass that its layer spans cover, i.e. the sum
    # of the self times of every span below the pass over its wall time
    m["trace.self_time_coverage"] = _med(
        [1.0 - st[r["id"]] / (r["end"] - r["start"]) for r in roots])
    return m


def names() -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit, in report order."""
    out = [(f"session.{k}", "s")
           for k in ("start_s", "warm_s", "open_s", "cold_pass_s", "setup_wall_s")]
    out += [("session.jvm_peak_rss_mb", "MB")]
    out += [(f"{layer}.s", "s") for layer in LAYER_S]
    out += [(k, "s") for k in STEP_S]
    out += list(DETAIL)
    out += [("operators.build.max_task_s", "s"),
            ("operators.merge.driver_rss_delta_mb", "MB"),
            ("operators.dedup.recall", "ratio"),
            ("streaming.batches", "count"), ("streaming.batch_s_p50", "s"),
            ("streaming.state_bytes", "bytes"),
            ("streaming.state_bytes_per_batch", "bytes"),
            ("streaming.dropped_rows", "count")]
    out += [(f"{layer}.{k}", u) for layer in ENGINE_LAYERS for k, u in ENGINE]
    out += [("engine.task_wait_s", "s"), ("engine.task_retries", "count"),
            ("engine.spill_bytes", "bytes"),
            ("trace.untraced_wall_s", "s"), ("trace.traced_wall_s", "s"),
            ("trace.overhead_s", "s"), ("trace.self_time_coverage", "ratio")]
    return out
