"""Per-layer metrics of the traced run, folded from its spans, counters
and the Spark event log (one job group per span).

A span-instance metric is the median over every instance of that span in
the timed region; a per-unit metric is the median over traced units.
Jobs, stages and tasks of a span include those of its child spans.
"""

from __future__ import annotations

import statistics

from workloads import MEDIA_ROWS

SPARK_KEYS = ("jobs", "stages", "tasks", "task_s", "gc_s", "shuffle_write_mb", "spill_mb")

# metric -> (span name, field); field "s" is the span's duration
INSTANCE = {
    "sources.scan_s": ("sources.scan", "s"),
    "functions.text.tokenize_s": ("functions.text.tokenize", "s"),
    "operators.join_sim.build_s": ("operators.join_sim.build", "s"),
    "operators.join_sim.build_jobs": ("operators.join_sim.build", "jobs"),
    "operators.join_sim.mapping_s": ("operators.join_sim.mapping", "s"),
    "operators.join_sim.mapping_jobs": ("operators.join_sim.mapping", "jobs"),
    "operators.join_sim.mapping_tasks": ("operators.join_sim.mapping", "tasks"),
    "cache.release_s": ("cache.release", "s"),
}
for _row, _mod in MEDIA_ROWS.items():
    # metric names are at most 64 characters: a row name's leading
    # module name is dropped (multimodal_png_pixel_stats -> png_pixel_stats)
    _short = _row.removeprefix(_mod.rsplit(".", 1)[1] + "_")
    for _part, _fields in (("build", ("s", "jobs")), ("action", ("s", "jobs", "tasks"))):
        for _f in _fields:
            INSTANCE[f"{_mod}.{_short}.{_part}_{_f}"] = (f"{_mod}.{_row}.{_part}", _f)

# counters reported as their maximum over the timed region
COUNTER_MAX = ("cache.live_rdds", "cache.storage_mb")

NAMES = (
    ["session.start_s", "session.warmup_s"]
    + list(INSTANCE)
    + ["operators.join_sim.joinback_s"]
    + list(COUNTER_MAX)
    + [f"spark.{k}" for k in SPARK_KEYS]
    + ["spark.core_util", "trace.overhead_s"]
)


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def per_layer(wl, tracer, counters, groups: dict, cores: int, start_s: float,
              warmup_s: float, overhead_s: float) -> dict:
    spans = [s for s in tracer.spans if s.op >= 0]
    kids: dict[str, list] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)

    def subtree(sp, key: str) -> float:
        own = groups.get(sp.sid, {}).get(key, 0)
        return own + sum(subtree(c, key) for c in kids.get(sp.sid, ()))

    def field(sp, f: str) -> float:
        return sp.dur if f == "s" else float(subtree(sp, f))

    out: dict[str, float] = {"session.start_s": start_s, "session.warmup_s": warmup_s}
    for metric, (name, f) in INSTANCE.items():
        out[metric] = _median([field(s, f) for s in spans if s.name == name])

    ops = sorted({s.op for s in spans})
    by_op = {op: [s for s in spans if s.op == op] for op in ops}

    def dur(op: int, name: str) -> float:
        return sum(s.dur for s in by_op[op] if s.name == name)

    out["operators.join_sim.joinback_s"] = _median(
        [dur(op, "operators.join_sim.action") - dur(op, "operators.join_sim.mapping")
         for op in ops if dur(op, "operators.join_sim.mapping") > 0]
    )
    for name in COUNTER_MAX:
        out[name] = max((v for _, n, v in counters if n == name), default=0.0)

    per_unit = {k: [] for k in SPARK_KEYS + ("core_util",)}
    for op in ops:
        roots = [s for s in by_op[op] if s.parent is None and s.name in wl.TIMED_SPANS]
        wall = sum(s.dur for s in roots)
        if not roots:
            continue
        for k in SPARK_KEYS:
            per_unit[k].append(sum(subtree(s, k) for s in roots))
        per_unit["core_util"].append(per_unit["task_s"][-1] / (wall * cores))
    for k, v in per_unit.items():
        out[f"spark.{k}"] = _median(v)
    out["trace.overhead_s"] = overhead_s
    return {name: {"value": float(out[name]), "unit": unit_of(name)} for name in NAMES}


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("core_util"):
        return "ratio"
    return "count"
