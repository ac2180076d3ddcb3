"""Metric names, units and directions, and how each is computed.

`END_TO_END` and `PER_LAYER` are the lists BENCHMARK.json records; the
smoke test keeps the two in agreement. README.md records which
end-to-end metric and workload each per-layer metric should move.
"""

from __future__ import annotations

import statistics

from perfbench.trace import descendants

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "wall_s": ("s", "lower"),
    "docs_per_s": ("1/s", "higher"),
    "cpu_s": ("s", "lower"),
    "dup_pair_recall": ("ratio", "higher"),
    "dup_pair_precision": ("ratio", "higher"),
}

# layers whose spans exist on every workload, with their event-log metrics
COMMON_LAYERS = ("prepare", "candidates", "verify", "components")
EVENT_METRICS = {
    "task_cpu_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "shuffle_bytes": ("B", "lower"),
    "spill_bytes": ("B", "lower"),
    "slot_busy_frac": ("ratio", "higher"),
}

PER_LAYER = {
    "sources.gen_s": ("s", "lower"),
    "sources.rows": ("count", "higher"),
    "prepare.s": ("s", "lower"),
    "prepare.ckpt_bytes": ("B", "lower"),
    "stars.edges": ("count", "lower"),
    "candidates.s": ("s", "lower"),
    "candidates.band_rows": ("count", "lower"),
    "candidates.capped_band_rows": ("count", "lower"),
    "candidates.pairs": ("count", "lower"),
    "candidates.pairs_per_doc": ("ratio", "lower"),
    "verify.s": ("s", "lower"),
    "verify.pairs_in": ("count", "lower"),
    "verify.edge_pairs": ("count", "higher"),
    "verify.edge_yield": ("ratio", "higher"),
    **{f"verify.status.{s}": ("count", "lower") for s in ("exact", "strong", "weak", "different", "ambiguous")},
    "components.s": ("s", "lower"),
    "components.edges_in": ("count", "lower"),
    "components.rounds": ("count", "lower"),
    "components.clusters": ("count", "higher"),
    "checkpoint.bytes": ("B", "lower"),
    "checkpoint.files": ("count", "lower"),
    "stream.state_bytes": ("B", "lower"),
    "stream.state_files": ("count", "lower"),
    "stream.pairs_appended": ("count", "lower"),
    "compact.files_removed": ("count", "higher"),
    **{f"{layer}.{m}": v for layer in COMMON_LAYERS for m, v in EVENT_METRICS.items()},
    # the layer's span time over the traced job's wall time
    **{f"{layer}.wall_share": ("ratio", "lower") for layer in COMMON_LAYERS},
    # the Spark JVM plus Python workers; per-layer, not end-to-end, because
    # the worker pool's size at the peak varies from run to run
    "memory.peak_rss_mb": ("MB", "lower"),
    "trace.overhead_s": ("s", "lower"),
}

# Spans that exist on one workload only. Their timings go to the spans
# file and the stderr summary, not into PER_LAYER: every listed metric is
# measured on every workload.
WORKLOAD_SPANS = ("stars", "pipeline.stage.prepared", "pipeline.stage.candidates",
                  "pipeline.stage.verified", "pipeline.stage.assignments",
                  "stream.batch", "compact")

def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(setup_s: float, n_docs: int, jobs: list, checks: list) -> dict:
    wall = median([j.wall_s for j in jobs])
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "docs_per_s": n_docs / wall,
        "cpu_s": median([j.cpu_s for j in jobs]),
        "dup_pair_recall": min(c.recall for c in checks),
        "dup_pair_precision": min(c.precision for c in checks),
    }


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _layer_sum(spans: list[dict], name: str, cores: int) -> dict:
    """Totals over every span called `name` and the spans below it, less
    the benchmark's own counting (`bench.count` spans)."""
    out = {"s": 0.0, "n": 0, "task_cpu_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0, "task_s": 0.0,
           "gc_s": 0.0}
    for s in spans:
        if s["name"] != name:
            continue
        out["n"] += 1
        out["s"] += _dur(s)
        for d in descendants(spans, s):
            if d["name"] == "bench.count":
                out["s"] -= _dur(d)
                continue
            for k in ("task_cpu_s", "shuffle_bytes", "spill_bytes", "task_s", "gc_s"):
                out[k] += d["attrs"].get(k, 0)
    wall = out["s"]
    out["slot_busy_frac"] = out["task_s"] / (wall * cores) if wall > 0 else 0.0
    return out


def _attr_sum(spans, name, key):
    return sum(s["attrs"].get(key, 0) for s in spans if s["name"] == name)


def per_job_layers(spans: list[dict], job, n_docs: int, cores: int) -> dict:
    """Per-layer metrics of one traced job (spans of its trace only)."""
    m: dict = {}
    layers = {name: _layer_sum(spans, name, cores) for name in ("job",) + COMMON_LAYERS + WORKLOAD_SPANS}
    job_s = layers["job"]["s"]
    for layer in COMMON_LAYERS:
        m[f"{layer}.s"] = layers[layer]["s"]
        m[f"{layer}.wall_share"] = layers[layer]["s"] / job_s
        for k in EVENT_METRICS:
            m[f"{layer}.{k}"] = layers[layer][k]
    m["prepare.ckpt_bytes"] = _attr_sum(spans, "prepare", "bytes")
    m["stars.edges"] = _attr_sum(spans, "stars", "rows")
    m["candidates.band_rows"] = _attr_sum(spans, "bench.count", "band_rows")
    m["candidates.capped_band_rows"] = _attr_sum(spans, "bench.count", "capped_band_rows")
    m["candidates.pairs"] = _attr_sum(spans, "candidates", "rows")
    m["candidates.pairs_per_doc"] = m["candidates.pairs"] / n_docs
    statuses: dict = {}
    for s in spans:
        if s["name"] == "verify":
            for k, v in s["attrs"].get("status", {}).items():
                statuses[k] = statuses.get(k, 0) + v
    for st in ("exact", "strong", "weak", "different", "ambiguous"):
        m[f"verify.status.{st}"] = statuses.get(st, 0)
    m["verify.pairs_in"] = sum(statuses.values())
    m["verify.edge_pairs"] = statuses.get("exact", 0) + statuses.get("strong", 0)
    m["verify.edge_yield"] = m["verify.edge_pairs"] / m["verify.pairs_in"] if m["verify.pairs_in"] else 0.0
    m["components.edges_in"] = _attr_sum(spans, "components", "edges_in")
    m["components.rounds"] = _attr_sum(spans, "components", "rounds")
    m["components.clusters"] = _attr_sum(spans, "components", "clusters")
    for k in ("checkpoint.bytes", "checkpoint.files", "stream.state_bytes", "stream.state_files",
              "stream.pairs_appended", "compact.files_removed"):
        m[k] = job.counts.get(k, 0)
    # workload-specific spans: reported in the summary, not in PER_LAYER
    extra = {"job.s": job_s, "bench.count.s": sum(_dur(s) for s in spans if s["name"] == "bench.count")}
    for name in WORKLOAD_SPANS:
        if layers[name]["n"]:
            extra[f"{name}.s"] = layers[name]["s"]
            extra[f"{name}.wall_share"] = layers[name]["s"] / job_s
            extra[f"{name}.task_cpu_s"] = layers[name]["task_cpu_s"]
            extra[f"{name}.slot_busy_frac"] = layers[name]["slot_busy_frac"]
    # per stream batch: its time and the state it found on entry
    batches = [s for s in spans if s["name"] == "stream.batch"]
    for i, s in enumerate(batches):
        extra[f"stream.batch{i}.s"] = _layer_sum(descendants(spans, s), "stream.batch", cores)["s"]
        extra[f"stream.batch{i}.state_bytes_in"] = batches[i - 1]["attrs"]["state_bytes"] if i else 0
    return m, extra


def median_of(dicts: list[dict]) -> dict:
    keys = dicts[0].keys() if dicts else []
    return {k: median([d[k] for d in dicts]) for k in keys}
