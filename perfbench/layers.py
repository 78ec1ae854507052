"""Per-layer metrics of a traced run, named as in layers.json."""

from __future__ import annotations

import json
from pathlib import Path

import spans

MAP = json.loads((Path(__file__).resolve().parent / "layers.json").read_text())
UNITS = {m["name"]: m["unit"] for layer in MAP["layers"] for m in layer["metrics"]}


def per_layer(ctx, workload, log: spans.EventLog, extra: dict) -> dict:
    """Every per-layer metric; those the workload does not exercise read 0."""
    tr = ctx.tracer
    out = dict.fromkeys(UNITS, 0.0)
    out.update(spans.engine_totals(log))
    out.update(extra)
    out["cache.live_rdds_max"] = ctx.live_rdds_max
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    out["gen.s"] = sum(map(dur, tr.by_name("gen")))
    out["serve.index_build_s"] = sum(
        dur(s) for name in ("serve.index_build", "sync.chunk", "sync.build_index",
                            "sync.build_dense_ivf", "sync.build_sparse_pruned")
        for s in tr.by_name(name))
    ops = tr.by_name("op")
    wall = sum(map(dur, ops))
    busy = sum(spans.busy_s(spans.jobs_under(tr, s), s["start"], s["end"]) for s in ops)
    cpu = sum(t["cpu_ns"] for s in ops
              for t in spans.tasks_of(spans.jobs_under(tr, s))) / 1e9
    if wall > 0:
        out["split.driver_share"] = (wall - busy) / wall
        out["split.executor_cpu_share"] = cpu / (wall * ctx.cores)
    out.update(workload.layers())
    unknown = set(out) - set(UNITS)
    if unknown:
        raise KeyError(f"metrics missing from layers.json: {sorted(unknown)}")
    return out
