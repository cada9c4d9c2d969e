"""Write the layer table (perfbench/LAYERS.md) from benchmark records.

    python3 perfbench/run.py --workload analytic --seed 7 --seconds 20 --trace 0
    python3 perfbench/run.py --workload analytic --seed 7 --seconds 20 --trace 1
    (the same for interactive)
    python3 perfbench/layers.py --seed 7 > perfbench/LAYERS.md

For each workload it reads the untraced and the traced record of one seed
from ``perfbench/.work`` and prints: the tracing overhead on
``warm_pass_s``, the per-layer metrics, the named layer metrics (or why a
name does not apply), and per op shape, cold and warm, the time booked to
each layer and the dominant one.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.run import WORK, _median, settled_passes  # noqa: E402

LANES = ("skin", "command", "algorithm", "lineage", "driver_build", "catalyst", "codegen",
         "execution")
# span names booked to the skin lane; ``sql.command`` (DML, DDL and MV
# statements, with the jobs they run) is the command lane
SKIN_SPANS = ("sql.parse", "sql.translate", "cypher.build", "gremlin.build",
              "graphql.build", "mongo.build", "select.build")


def detail(record: dict) -> dict:
    """From a traced record: per op shape, cold (pass 0) and warm (the
    median settled pass), the time booked to each lane and the dominant
    one; and the named layer metrics that only some workloads have."""
    settled = set(settled_passes(record))
    by_op: dict[str, dict[str, float]] = {}
    for s in record["spans"]:
        if s["op"] is None or s["op"].startswith("setup"):
            continue
        d = by_op.setdefault(s["op"], {})
        d[s["name"]] = d.get(s["name"], 0.0) + s["self"]
    shapes: dict[str, dict] = {}
    for r in record["ops"]:
        qs = r["queries"]
        sp = by_op.get(r["op"], {})
        skin = sum(sp.get(n, 0.0) for n in SKIN_SPANS)
        command = sp.get("sql.command", 0.0)
        algo = sum(v for n, v in sp.items() if n.startswith("algo."))
        lineage = sp.get("lineage.truncate", 0.0)
        opt = sum(q["catalyst_ms"]["optimization"] + q["catalyst_ms"]["planning"] for q in qs) / 1e3
        ana = sum(q["catalyst_ms"]["analysis"] for q in qs) / 1e3
        cg = sum(q["codegen_ms"] for q in qs) / 1e3
        action = sum(q["action_s"] for q in qs)
        build = sum(q["build_s"] for q in qs)
        lanes = {
            "skin": skin,
            "command": command,
            "algorithm": algo,
            "lineage": lineage,
            "driver_build": max(0.0, build - skin - command - algo - lineage),
            "catalyst": opt + ana,
            "codegen": cg,
            "execution": max(0.0, action - opt - cg),
        }
        # Spark analyzes eagerly while the DataFrame is built, so analysis
        # is already inside a build-side lane: take it out of the first
        # that holds it before booking it to catalyst
        left = ana
        for lane in ("driver_build", "skin", "command", "algorithm"):
            take = min(left, lanes[lane])
            lanes[lane] -= take
            left -= take
        row = {
            "wall_ms": r["wall_s"] * 1e3,
            "jobs": sum(q["build_jobs"] + q["action_jobs"] for q in qs),
            "eager_jobs": sum(q["build_jobs"] for q in qs),
            "py4j_calls": sum(q.get("py4j_calls", 0) for q in qs),
            "layers_ms": {k: v * 1e3 for k, v in lanes.items()},
            "spans_self_ms": {k: v * 1e3 for k, v in sp.items()},
            "queries": {q["label"]: (q["build_s"] + q["action_s"]) * 1e3 for q in qs},
        }
        row["dominant"] = max(row["layers_ms"], key=row["layers_ms"].get)
        lane = "cold" if r["pass"] == 0 else "warm" if r["pass"] in settled else None
        if lane:
            shapes.setdefault(r["shape"], {}).setdefault(lane, []).append(row)
    table = {
        shape: {lane: sorted(rows, key=lambda x: x["wall_ms"])[len(rows) // 2]
                for lane, rows in lanes_.items()}
        for shape, lanes_ in shapes.items()
    }
    named: dict = {}
    for shape, lanes_ in table.items():
        cold, warm = lanes_.get("cold"), lanes_.get("warm") or {}
        if record["workload"] == "analytic":
            named[f"op.{shape}.first_ms"] = cold and cold["wall_ms"]
            named[f"op.{shape}.warm_ms"] = warm.get("wall_ms")
            named[f"op.{shape}.jobs"] = warm.get("jobs")
        for span, ms in warm.get("spans_self_ms", {}).items():
            if span in SKIN_SPANS or span in ("sql.command", "lineage.truncate") \
                    or span.startswith("algo."):
                key = f"{span}.ms" if span.startswith("algo.") else f"{span}_ms"
                named[key] = named.get(key, 0.0) + ms
            if span.startswith("algo."):
                named[f"{span}.jobs"] = warm["jobs"]  # jobs of the op calling it
        for label, ms in warm.get("queries", {}).items():
            if label.startswith(("dml.", "mv.")):
                named.setdefault(f"{label}_ms", []).append(ms)
    named = {k: _median(v) if isinstance(v, list) else v for k, v in named.items()}
    if "write_visible_ms" in record["end_to_end"]:
        named["write_visible_ms"] = record["end_to_end"]["write_visible_ms"]
    return {"shapes": table, "named": named}

# Metric names of the layer list that a workload does not exercise, or
# that read 0 on it, with the reason.
NOT_APPLICABLE = {
    "analytic": {
        "gremlin.build_ms, graphql.build_ms, mongo.build_ms, select.build_ms":
            "no headline query uses these skins",
        "sql.parse_ms": "settled passes hit the statement cache; parsing happens in pass 0",
        "dml.insert_ms, dml.update_ms, dml.delete_ms, mv.refresh_ms, mv.read_ms, "
        "write_visible_ms": "no writes in this workload",
        "algo.<name>.ms, algo.<name>.jobs for pagerank, wcc, scc, astar, ksp":
            "only traverse (q_graph_bfs_hops) and louvain run here; no workload runs "
            "the others, whose tens of supersteps do not fit the run budget",
        "exec.spill_bytes (reads 0)": "at this scale every sort and aggregate fits in "
        "executor memory; it moves only if a change makes an operator spill",
    },
    "interactive": {
        "op.<query>.first_ms, op.<query>.warm_ms, op.<query>.jobs":
            "per headline query: analytic only",
        "algo.<name>.ms, algo.<name>.jobs": "no graph algorithm calls in this workload",
        "lineage.files, lineage.bytes_written":
            "no graph algorithm, so nothing truncates a plan to parquet",
        "exec.spill_bytes (reads 0)": "point reads and small writes never spill",
    },
}


def _fmt(v) -> str:
    if isinstance(v, float):
        return f"{v:.1f}" if abs(v) >= 10 else f"{v:.3f}"
    return str(v)


def workload_section(name: str, seed: int) -> list[str]:
    plain = json.loads((WORK / f"{name}-s{seed}-t0.json").read_text())
    traced = json.loads((WORK / f"{name}-s{seed}-t1.json").read_text())
    w0 = plain["end_to_end"]["warm_pass_s"]
    w1 = traced["end_to_end"]["warm_pass_s"]
    out = [f"## {name} (seed {seed})", ""]
    out.append(f"Tracing overhead: traced `warm_pass_s` {w1:.3f} s against untraced "
               f"{w0:.3f} s ({(w1 - w0) / w0 * 100:+.1f} %). Both runs: "
               f"{plain['attempted']} / {traced['attempted']} ops, "
               f"{plain['failed']} / {traced['failed']} failed.")
    out += ["", "| per-layer metric | value |", "|---|---|"]
    out += [f"| `{k}` | {_fmt(v)} |" for k, v in traced["per_layer"].items()]
    layers = detail(traced)
    named = layers["named"]
    out += ["", "| named layer metric | value |", "|---|---|"]
    out += [f"| `{k}` | {_fmt(v)} |" for k, v in sorted(named.items())]
    for k, why in NOT_APPLICABLE.get(name, {}).items():
        out.append(f"| `{k}` | n/a: {why} |")
    out += ["", "Milliseconds per op shape, pass 0 (cold) and the median settled warm "
            "pass (warm); self time per layer from the trace.", "",
            "| shape | lane | wall | jobs | eager jobs | py4j calls | "
            + " | ".join(LANES) + " | dominant |",
            "|---" * (7 + len(LANES)) + "|"]
    for shape, lanes in sorted(layers["shapes"].items()):
        for lane in ("cold", "warm"):
            row = lanes.get(lane)
            if not row:
                continue
            cells = [shape, lane, _fmt(row["wall_ms"]), str(row["jobs"]),
                     str(row["eager_jobs"]), str(row["py4j_calls"])]
            cells += [f"{row['layers_ms'][k]:.0f}" for k in LANES]
            cells.append(row["dominant"])
            out.append("| " + " | ".join(cells) + " |")
    return out + [""]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--workloads", default="analytic,interactive")
    args = ap.parse_args()
    lines = [
        "# Layer table",
        "",
        "Written by `perfbench/layers.py` from one untraced and one traced run per",
        "workload (see its docstring). Lanes: `skin` is self time in the query",
        "skins (SQL parse and translate, Cypher, Gremlin, GraphQL, Mongo,",
        "select); `command` in SQL commands (DML, DDL and MV statements with the",
        "jobs they run); `algorithm` in graph algorithm calls; `lineage` in",
        "plan truncation to parquet (the write job and the re-read);",
        "`driver_build` the rest of DataFrame construction (py4j plan building",
        "and eager jobs; Spark's eager analysis is moved to `catalyst`);",
        "`catalyst` analysis, optimization and planning from the query's",
        "tracker; `codegen` whole-stage compile time; `execution` the rest of",
        "the action.",
        "",
    ]
    for name in args.workloads.split(","):
        lines += workload_section(name, args.seed)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
