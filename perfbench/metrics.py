"""Turn a run's passes into the metrics BENCHMARK.json names.

End-to-end metrics come from untraced passes; per-layer metrics come
from the traced passes of a ``--trace 1`` run.  A layer that a workload
does not exercise reads 0.  DESIGN.md defines every metric.
"""

from __future__ import annotations

import json
import os

from measure import inclusive, layer_totals, median, subtree, percentile
from workloads import streaming_totals

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "BENCHMARK.json")

EXEC_KEYS = ("jobs", "stages", "tasks", "task_s", "gc_s",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def end_to_end(setup: dict, passes: list[dict]) -> dict:
    """Medians over the passes.  A query workload's pass time is the sum
    of each query's median time, and its ``first_batch_s`` the median of
    those medians, so one slow query in one pass moves neither."""
    times: dict[str, list[float]] = {}
    for p in passes:
        for q, r in p.get("queries", {}).items():
            times.setdefault(q, []).append(r["build_s"] + r["run_s"])
    if times:
        per_query = [median(t) for t in times.values()]
        wall, first = sum(per_query), median(per_query)
    else:
        wall = median([p["wall_s"] for p in passes])
        first = median([p["first_s"] for p in passes])
    examples = median([p["examples"] for p in passes])
    return {
        "setup_s": setup["start_s"] + setup["stage_s"] + setup["warm_s"],
        "wall_s": wall,
        "examples_per_s": examples / wall if wall else 0.0,
        "first_batch_s": first,
    }


def _pass_layers(p: dict, spans, cpus: int) -> dict:
    """Per-layer numbers of one traced pass."""
    sub = subtree(spans, p["pass_span"])
    totals = layer_totals(sub)
    m: dict[str, float] = {}
    for layer in ("schemes", "ops", "plans"):
        m[f"{layer}.build_s"] = totals.get(layer, {}).get("boundary_s", 0.0)
    m["schemes.jobs"] = totals.get("schemes", {}).get("jobs", 0)
    m["ops.build_jobs"] = totals.get("ops", {}).get("jobs", 0)

    ex = {k: sum(sp.stats.get(k, 0) for sp in sub) for k in EXEC_KEYS}
    skipped = sum(sp.stats.get("skipped_stages", 0) for sp in sub)
    for k, v in ex.items():
        m[f"exec.{k}"] = v
    m["exec.run_s"] = p.get("run_s", p.get("fetch_wait_s", 0.0)) \
        + p.get("check_s", 0.0)
    m["exec.core_util"] = ex["task_s"] / (p["wall_s"] * cpus)
    m["exec.stage_reuse_ratio"] = skipped / ex["stages"] if ex["stages"] \
        else 0.0

    for phase, v in p.get("catalyst", {}).items():
        m[f"catalyst.{phase}_ms"] = v

    if "waits" in p:  # train_stream
        sp = p["span"]
        read = inclusive(spans, sp, "input_records")
        m.update({
            "streams.fetch_wait_s": p["fetch_wait_s"],
            "streams.consumer_s": p["consumer_s"],
            "streams.epoch_jobs": sp.stats.get("jobs", 0),
            "streams.delivered_ratio": p["examples"] / read if read else 0.0,
        })
    if "progress" in p:  # stream_screen
        for k, v in streaming_totals(p["progress"]).items():
            m[f"streaming.{k}"] = v
        m["streaming.rows_out"] = p["rows_out"]
    for q, r in p.get("queries", {}).items():
        m[f"query.{q}.build_s"] = r["build_s"]
        m[f"query.{q}.run_s"] = r["run_s"]
        m[f"query.{q}.build_jobs"] = inclusive(spans, r["build_span"], "jobs")
        m[f"query.{q}.run_jobs"] = inclusive(spans, r["run_span"], "jobs")
    return m


def per_layer(setup, plain, traced, extra, hostm, tracer, counter,
              cpus: int) -> dict:
    per_pass = [_pass_layers(p, tracer.spans, cpus) for p in traced]
    names = sorted({k for m in per_pass for k in m})
    out = {k: median([m.get(k, 0.0) for m in per_pass]) for k in names}
    waits = [w for p in traced for w in p.get("waits", ())]
    if waits:
        out["streams.batch_wait_p50_ms"] = 1000 * percentile(waits, 50)
        out["streams.batch_wait_p99_ms"] = 1000 * percentile(waits, 99)
    out.update({
        "session.start_s": setup["start_s"],
        "sources.stage_s": setup["stage_s"],
        "sources.input_rows": setup["rows"],
        "sources.input_bytes": setup["bytes"],
        "streams.resume_first_batch_s": extra.get("resume_first_batch_s",
                                                  0.0),
        "host.steal_pct": hostm["steal_pct"],
        "host.load_1m": hostm["load_1m"],
        "host.peak_rss_mb": hostm["peak_rss_mb"],
        "trace.overhead_pct": 100.0 * (
            median([p["wall_s"] for p in traced])
            / median([p["wall_s"] for p in plain]) - 1.0),
        "fail_ratio": counter.failed / max(counter.attempted, 1),
    })
    return out


def result(values: dict, counter, trace: bool) -> dict:
    """The result line: exactly the metrics BENCHMARK.json lists for
    this mode, each with its unit."""
    with open(SPEC) as fh:
        spec = json.load(fh)["per_layer" if trace else "end_to_end"]
    metrics = {}
    for m in spec:
        if not trace and m["name"] not in values:
            raise KeyError(f"end-to-end metric {m['name']} not measured")
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)),
                              "unit": m["unit"]}
    attempted = max(counter.attempted, 1)
    failed = counter.failed if counter.attempted else 1
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}
