"""Per-layer figures from the spans of a traced run.

Each figure is a mean per round over the measured rounds. Which
end-to-end metric each one should move, and on which workload, is listed
in the README.
"""

from __future__ import annotations

from spans import self_seconds, subtree

# Layers reported as ``<layer>.self_s`` and ``<layer>.jobs``.
OPERATOR_LAYERS = (
    "operators.ranking",
    "operators.hierarchy",
    "streaming.windows",
    "operators.dedup",
    "operators.components",
    "operators.curation",
)
STAGES = ("quality", "exact_dedup", "near_dedup", "decontam", "split", "chunk")
# Figures kept per operation in the trace file: the L0-L3 split.
PER_OP = ("traced_wall_s", "queries.load_s", "queries.load_jobs", "build_s",
          "build_jobs", "plan_s", "execute_s", "execute_jobs")


def _jobs(spans) -> int:
    return sum(len(s.jobs) for s in spans)


def round_figures(spans, ops) -> dict[str, float]:
    """The per-layer figures of one round (``spans``: all of its spans,
    ``ops``: the top-level span of each operation)."""
    own = self_seconds(spans)
    layer = {s.id: s.attrs.get("layer") for s in spans}
    f: dict[str, float] = {"traced_wall_s": sum(s.seconds for s in ops)}

    loads = [s for s in spans if layer[s.id] == "queries"]
    f["queries.load_s"] = sum(s.seconds for s in loads)
    f["queries.load_jobs"] = _jobs(loads)
    # L1: the build span less the loads (L0) inside it.
    builds = [s for s in spans if s.name == "build"]
    in_build = [x for b in builds for x in subtree(spans, b)]
    build_loads = [s for s in in_build if layer[s.id] == "queries"]
    f["build_s"] = sum(s.seconds for s in builds) - sum(s.seconds for s in build_loads)
    f["build_jobs"] = _jobs(in_build) - _jobs(build_loads)
    f["plan_s"] = sum(s.seconds for s in spans if s.name == "plan")
    execs = [s for s in spans if s.name == "execute"]
    f["execute_s"] = sum(s.seconds for s in execs)
    f["execute_jobs"] = _jobs(x for e in execs for x in subtree(spans, e))
    f["scan_rows"] = sum(s.stages["scan_rows"] for s in spans)
    f["spill_mb"] = sum(s.stages["spill_bytes"] for s in spans) / 1e6

    for name in OPERATOR_LAYERS:
        mine = [s for s in spans if layer[s.id] == name]
        f[f"{name}.self_s"] = sum(own[s.id] for s in mine)
        f[f"{name}.jobs"] = _jobs(mine)

    by_op = {s.attrs.get("op"): s.seconds for s in ops}
    for st in STAGES:
        f[f"stage.{st}_s"] = by_op.get(st, 0.0)
    io = [s for s in spans if layer[s.id] == "physical.io"]
    reads = [s for s in io if ":Read." in s.name]
    writes = [s for s in io if ":Write." in s.name]
    f["physical.io.read_s"] = sum(own[s.id] for s in reads)
    f["physical.io.write_s"] = sum(own[s.id] for s in writes)
    f["physical.io.write_mb"] = sum(s.stages["bytes_written"] for s in writes) / 1e6
    return f


def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def per_layer(rounds) -> dict:
    """Mean per round of each figure, as the result's ``metrics``."""
    figs = [round_figures(r["spans"], r["ops"]) for r in rounds]
    return {
        k: {"value": sum(f[k] for f in figs) / len(figs), "unit": unit(k)}
        for k in figs[0]
    }


def per_op(rounds) -> dict:
    """Per operation, mean per round: L0 load, L1 build, L2 plan, L3
    execute and their job counts."""
    out: dict[str, dict] = {}
    for r in rounds:
        for op in r["ops"]:
            f = round_figures(subtree(r["spans"], op), [op])
            acc = out.setdefault(op.attrs["op"], dict.fromkeys(PER_OP, 0.0))
            for k in PER_OP:
                acc[k] += f[k] / len(rounds)
    return out
