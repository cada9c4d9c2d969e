"""End-to-end benchmark of the arcadedb_spark engine.

    python3 perfbench/run.py --workload analytic --seed 1 --seconds 20 --trace 0

One process, one closed-loop client, Spark ``local[3]``.  A run:

1. generates the workload's tables once per checkout (``perfbench/.work``);
2. sets up once, from the fresh process: the engine imports, the Spark
   session (the JVM launch), ``Database.open`` with its prewarm threads
   joined, the graph model built, every type touched and the workload's
   own fixtures created.  ``setup_s`` is the sum;
3. runs pass 0 (every op shape once, cold: no warm-up) and then warm
   passes in a seeded order until ``--seconds`` have passed and at least
   ``SETTLE + MIN_SETTLED`` warm passes ran.  The first ``SETTLE`` warm
   passes are not counted; the rest are the settled passes;
4. checks every recorded result against its oracle, untimed;
5. prints host state and per-pass series, then one JSON line with
   ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
   metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

The traced run wraps the engine's public functions (``tracing.py``); the
untraced run installs no wrapper.  Each run also writes its full record
(per-op times and job counts, spans when traced) to
``perfbench/.work/<workload>-s<seed>-t<trace>.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / "perfbench" / ".work"
CPUS = 3
# warm passes dropped before the settled ones (warm passes of both
# workloads still get faster through the second), and the fewest settled
# passes a run takes
SETTLE = 2
MIN_SETTLED = 2
# once a run has its settled passes, no new pass starts that would end
# past this many seconds of the run
DEADLINE_S = 150.0

sys.path.insert(0, str(ROOT))


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# host state, recorded beside the metrics
# ---------------------------------------------------------------------------


def _steal_ticks() -> int:
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8])
    except (OSError, IndexError, ValueError):
        return -1


def _python_loop_ms() -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return (time.perf_counter() - t0) * 1e3


def host_state() -> dict:
    return {"load1": os.getloadavg()[0], "steal_ticks": _steal_ticks(),
            "py_loop_ms": _python_loop_ms()}


# ---------------------------------------------------------------------------
# Spark session and data
# ---------------------------------------------------------------------------


def _prepare_env() -> None:
    """Pin the engine to ``local[CPUS]`` and keep every file Spark, the
    JVMs and Python write inside WORK.  Runs before the engine is imported:
    ``arcadedb_spark.session`` reads its core count at import."""
    tmp = WORK / "tmp"
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={shlex.quote(str(tmp))} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.local.dir={WORK / 'spark-local'}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={WORK / 'warehouse'}"),
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = None


def ensure_data(sf: float) -> str:
    from perfbench import datagen

    path = WORK / "data" / f"sf{sf}"
    mark = path / "COMPLETE"
    if not mark.exists():
        shutil.rmtree(path, ignore_errors=True)
        part = path.with_name(path.name + ".part")
        shutil.rmtree(part, ignore_errors=True)
        datagen.generate(str(part), sf)
        (part / "COMPLETE").write_text(str(datagen.DATA_SEED))
        part.rename(path)
    return str(path)


def _join_prewarm() -> None:
    for th in threading.enumerate():
        if th.name.startswith("arcadedb-prewarm"):
            th.join()


def _stop_jvm(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - force it down
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# the harness each op runs its queries through
# ---------------------------------------------------------------------------


class Harness:
    """Times the build and the action of each query an op issues and
    records its job counts; with a tracer, also Catalyst, codegen, stage
    and py4j counts."""

    def __init__(self, spark, tracer=None) -> None:
        from perfbench.tracing import SparkCounters

        self.counters = SparkCounters(spark)
        self.tracer = tracer
        self.queries: list[dict] = []

    def query(self, label: str, build):
        c, tr = self.counters, self.tracer
        rec = {"label": label}
        if tr:
            cg0, py0 = c.codegen(), tr.py4j_calls
        gb = c.group(label + ":build")
        t0 = time.perf_counter()
        with tr.span("build") if tr else nullcontext():
            df = build()
        t1 = time.perf_counter()
        ga = c.group(label + ":action")
        with tr.span("action") if tr else nullcontext():
            rows = df.collect()
        t2 = time.perf_counter()
        bj, aj = c.jobs(gb), c.jobs(ga)
        rec.update(build_s=t1 - t0, action_s=t2 - t1, build_jobs=len(bj), action_jobs=len(aj))
        if tr:
            cg1 = c.codegen()
            rec.update(codegen_classes=cg1[0] - cg0[0], codegen_ms=cg1[1] - cg0[1],
                       py4j_calls=tr.py4j_calls - py0, catalyst_ms=c.catalyst_ms(df),
                       action_stages=c.stage_totals(aj))
        self.queries.append(rec)
        return df, rows


def _lineage_usage() -> tuple[int, int]:
    n = size = 0
    for dirpath, _, files in os.walk(WORK / "lineage"):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


def run(workload: str, seed: int, seconds: float, trace: bool, import_s: float) -> dict:
    """One run; ``import_s`` is the time the engine's imports took in this
    fresh process, the first part of ``setup_s``."""
    t_start = time.perf_counter()
    for sub in ("tmp", "lineage"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    from perfbench import workloads as W

    wl_cls = W.WORKLOADS[workload]
    data_dir = ensure_data(W.SCALE)
    host0 = host_state()
    oracle = W.Oracle(data_dir, str(WORK / "tmp"), str(WORK / "oracle"))
    wl = wl_cls(data_dir, seed, oracle)

    import __spark_entry__ as entrymod
    from arcadedb_spark.session import get_spark

    tracer = None
    if trace:
        import arcadedb_spark.lineage  # noqa: F401 - defines DataFrame.truncate_plan
        from perfbench.tracing import Tracer

        tracer = Tracer()

    # -- set-up, from the fresh process --------------------------------------
    if tracer:
        tracer.install()  # imports every traced module, outside the clock
        tracer.op = "setup"
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    if spark.sparkContext.master != f"local[{CPUS}]":
        raise RuntimeError(f"expected local[{CPUS}], got {spark.sparkContext.master}")
    spark.conf.set("arcadedb.lineage.dir", str(WORK / "lineage"))
    if tracer:
        from pyspark import SparkContext

        tracer.count_py4j(SparkContext._gateway._gateway_client)
    db = entrymod._db(spark, data_dir)
    _join_prewarm()
    t2 = time.perf_counter()
    db.graph()
    for name in db.schema.names():
        db.schema.get(name).df()
    wl.setup(db)
    t3 = time.perf_counter()
    setup = {"import_s": import_s, "session_s": t1 - t0, "open_s": t2 - t1,
             "ready_s": t3 - t2, "total_s": import_s + t3 - t0}

    # -- passes --------------------------------------------------------------
    h = Harness(spark, tracer)
    records: list[dict] = []
    passes: list[dict] = []
    t_measure = time.perf_counter()
    p = 0
    while True:
        deck = wl.deck(spark, db, p)
        lin0 = _lineage_usage() if tracer else None
        tp = time.perf_counter()
        for op in deck:
            op_id = f"{p}:{op.shape}"
            if tracer:
                tracer.op = op_id
            q0 = len(h.queries)
            t0 = time.perf_counter()
            with tracer.span("op") if tracer else nullcontext():
                try:
                    result, error = op.run(h), None
                except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                    result, error = None, "".join(traceback.format_exception_only(e)).strip()
            wall = time.perf_counter() - t0
            records.append({"pass": p, "shape": op.shape, "op": op_id, "wall_s": wall,
                            "params": op.params, "queries": h.queries[q0:],
                            "result": result, "error": error, "expect": op.expect})
        pwall = time.perf_counter() - tp
        prec = {"pass": p, "wall_s": pwall}
        if tracer:
            lin1 = _lineage_usage()
            prec["lineage_files"] = lin1[0] - lin0[0]
            prec["lineage_bytes"] = lin1[1] - lin0[1]
            prec["cache_rdds"], prec["cache_bytes"] = h.counters.cache()
        passes.append(prec)
        p += 1
        warm = p - 1
        now = time.perf_counter()
        if warm >= SETTLE + MIN_SETTLED and (
                now - t_measure >= seconds or now - t_start + pwall > DEADLINE_S):
            break
    measure_s = time.perf_counter() - t_measure
    from perfbench.tracing import installed_wrappers

    wrappers = installed_wrappers()
    t_checks = time.perf_counter()

    # -- checks, untimed ----------------------------------------------------
    failed = 0
    for r in records:
        expect = r.pop("expect")
        ok = False
        if r["error"] is None:
            try:
                want = expect()
                ok = r["result"] == want
                if not ok:
                    r["expected"] = want
            except Exception as e:  # noqa: BLE001 - an oracle error fails the op
                r["error"] = f"oracle: {e}"
        r["ok"] = ok
        failed += not ok
        if ok:
            r.pop("result")
    oracle.close()
    t_checks_end = time.perf_counter()

    host1 = host_state()
    spans = tracer.dump() if tracer else None
    if tracer:
        tracer.uninstall()
    _stop_jvm(spark)

    record = {
        "phases_s": {"before_measure": t_measure - t_start, "measure": measure_s,
                     "checks": t_checks_end - t_checks,
                     "total": time.perf_counter() - t_start},
        "workload": workload, "seed": seed, "trace": trace, "seconds": seconds,
        "settle": SETTLE, "wrappers": wrappers, "setup": setup, "passes": passes, "ops": records,
        "host": {"start": host0, "end": host1,
                 "steal_ticks": host1["steal_ticks"] - host0["steal_ticks"]},
        "attempted": len(records), "failed": failed,
    }
    record["end_to_end"] = end_to_end(record)
    if tracer:
        from perfbench.layers import detail

        record["spans"] = spans
        record["per_layer"] = per_layer(record, spans)
        record["layers"] = detail(record)
    return record


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def settled_passes(record: dict) -> list[int]:
    return [p["pass"] for p in record["passes"] if p["pass"] > record["settle"]]


def end_to_end(record: dict) -> dict:
    settled = set(settled_passes(record))
    by_shape: dict[str, list[float]] = {}
    for r in record["ops"]:
        if r["pass"] in settled:
            by_shape.setdefault(r["shape"], []).append(r["wall_s"] * 1e3)
    meds = [_median(v) for v in by_shape.values()]
    writes = [r["wall_s"] * 1e3 for r in record["ops"]
              if r["pass"] in settled and r["shape"].startswith("write_")]
    out = {
        "setup_s": record["setup"]["total_s"],
        "first_pass_s": record["passes"][0]["wall_s"],
        "warm_pass_s": _median([p["wall_s"] for p in record["passes"] if p["pass"] in settled]),
        "op_geomean_ms": math.exp(sum(math.log(m) for m in meds) / len(meds)) if meds else 0.0,
    }
    if writes:
        out["write_visible_ms"] = _median(writes)
    return out


def _pass_sum(record: dict, passes: set[int], fn) -> list[float]:
    tot = {p: 0.0 for p in passes}
    for r in record["ops"]:
        if r["pass"] in passes:
            for q in r["queries"]:
                tot[r["pass"]] += fn(q)
    return list(tot.values())


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, hi = 0.0, -math.inf
    for lo, end in sorted(intervals):
        if end > hi:
            total += end - max(lo, hi)
            hi = end
    return total


def per_layer(record: dict, spans: list[dict]) -> dict:
    """Per-layer metrics of a traced run."""
    settled = set(settled_passes(record))
    med = lambda fn: _median(_pass_sum(record, settled, fn))  # noqa: E731
    first = {0}

    def setup_part(name, outside=()):
        """Wall time of set-up during which a ``name`` span that no span
        named ``name`` or in ``outside`` encloses ran, on any thread: the
        engine's prewarm threads build the graph and touch the types
        inside ``Database.open``."""
        def enclosed(s):
            while s["parent"] is not None:
                s = spans[s["parent"]]
                if s["name"] == name or s["name"] in outside:
                    return True
            return False

        return covered([(s["start"], s["end"]) for s in spans
                        if s["op"] == "setup" and s["name"] == name and not enclosed(s)])

    def act(q, key):
        return q.get("action_stages", {}).get(key, 0)

    last = record["passes"][-1]
    m = {
        "engine.import_s": record["setup"]["import_s"],
        "session.start_s": record["setup"]["session_s"],
        "database.open_s": record["setup"]["open_s"],
        "catalog.first_touch_s": setup_part("catalog.type_df", outside=("graph.model_build",)),
        "graph.model_build_s": setup_part("graph.model_build"),
        "build.ms": med(lambda q: q["build_s"] * 1e3),
        "build.py4j_calls": med(lambda q: q.get("py4j_calls", 0)),
        "build.eager_jobs": med(lambda q: q["build_jobs"]),
        "catalyst.analysis_ms": med(lambda q: q["catalyst_ms"]["analysis"]),
        "catalyst.optimization_ms": med(lambda q: q["catalyst_ms"]["optimization"]),
        "catalyst.planning_ms": med(lambda q: q["catalyst_ms"]["planning"]),
        "codegen.classes": sum(_pass_sum(record, first, lambda q: q["codegen_classes"])),
        "codegen.compile_ms": sum(_pass_sum(record, first, lambda q: q["codegen_ms"])),
        "exec.ms": med(lambda q: q["action_s"] * 1e3 - q["catalyst_ms"]["optimization"]
                       - q["catalyst_ms"]["planning"]),
        "exec.jobs": med(lambda q: q["action_jobs"]),
        "exec.stages": med(lambda q: act(q, "stages")),
        "exec.tasks": med(lambda q: act(q, "tasks")),
        "exec.shuffle_read_bytes": med(lambda q: act(q, "shuffle_read_bytes")),
        "exec.shuffle_write_bytes": med(lambda q: act(q, "shuffle_write_bytes")),
        "exec.spill_bytes": med(lambda q: act(q, "spill_bytes")),
        "cache.rdds": last["cache_rdds"],
        "cache.bytes": last["cache_bytes"],
        "lineage.files": _median([p["lineage_files"] for p in record["passes"] if p["pass"] in settled]),
        "lineage.bytes_written": _median([p["lineage_bytes"] for p in record["passes"] if p["pass"] in settled]),
        "trace.warm_pass_s": record["end_to_end"]["warm_pass_s"],
    }
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _prepare_env()
    try:
        import duckdb  # noqa: F401 - the oracle's, outside the set-up clock

        t0 = time.perf_counter()
        import pyspark  # noqa: F401

        import arcadedb_spark  # noqa: F401
        import __spark_entry__  # noqa: F401

        import_s = time.perf_counter() - t0
        from perfbench import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the engine or its oracle: {e}", file=sys.stderr)
        return 2
    if not Path(arcadedb_spark.__file__).resolve().is_relative_to(ROOT):
        print(f"perfbench: the engine is not this checkout's: {arcadedb_spark.__file__}",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    try:
        record = run(args.workload, args.seed, args.seconds, bool(args.trace), import_s)
    except Exception:  # noqa: BLE001 - report, stop the JVM, exit without a result
        traceback.print_exc()
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            from pyspark.sql import SparkSession

            _stop_jvm(SparkSession.builder.getOrCreate())
        return 1
    out = WORK / f"{args.workload}-s{args.seed}-t{args.trace}.json"
    out.write_text(json.dumps(record, indent=1, default=repr))

    print("host " + json.dumps(record["host"]))
    print("phases_s " + json.dumps(record["phases_s"]))
    print("passes_s " + json.dumps([round(p["wall_s"], 4) for p in record["passes"]]))
    jobs = {}
    for r in record["ops"]:
        if r["pass"] > 0:
            jobs.setdefault(r["shape"], sum(q["build_jobs"] + q["action_jobs"] for q in r["queries"]))
    print("jobs_per_shape " + json.dumps(jobs, sort_keys=True))
    for r in record["ops"]:
        if not r["ok"]:
            print(f"FAILED {r['op']}: {r['error'] or 'result differs from oracle'}")
    if args.trace:
        print("layers " + json.dumps(record["layers"]["named"], sort_keys=True))
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in record["per_layer"].items()}
    else:
        e2e = dict(record["end_to_end"])
        e2e.pop("write_visible_ms", None)
        print("write_visible_ms " + json.dumps(record["end_to_end"].get("write_visible_ms")))
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in e2e.items()}
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms") or name.endswith(".ms"):
        return "ms"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
