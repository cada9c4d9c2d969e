"""Tests of the benchmark itself.

    python3 -m pytest perfbench -m ""

The last test runs the benchmark twice (about two minutes) and is marked
``slow``, so the repository's default ``-m "not slow"`` skips it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import datagen, tracing, workloads  # noqa: E402
from perfbench.run import covered  # noqa: E402
from perfbench.tracing import Span, Tracer, self_times  # noqa: E402


def _span(name, start, end, parent=None):
    return Span(name, start, end, parent, None, "main")


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span("op", 0.0, 10.0),
        _span("a", 1.0, 3.0, parent=0),
        _span("b", 2.0, 4.0, parent=0),  # overlaps a: [1, 4] covered once
        _span("c", 5.0, 6.0, parent=0),
        _span("c.child", 5.2, 5.7, parent=3),
        _span("d", 9.5, 11.0, parent=0),  # runs past its parent: clipped
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10.0 - 3.0 - 1.0 - 0.5)
    assert got[1] == pytest.approx(2.0)
    assert got[3] == pytest.approx(0.5)
    assert got[4] == pytest.approx(0.5)


def test_setup_parts_count_overlapping_spans_once():
    # the prewarm threads touch types concurrently: wall time, not thread time
    assert covered([(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (5.5, 5.7)]) == pytest.approx(4.0)
    assert covered([]) == 0.0


def test_tracer_nests_spans_and_books_self_time_per_layer():
    tr = Tracer()
    tr.op = "1:q"
    outer = tr.begin("op")
    inner = tr.begin("sql.parse")
    tr.end(inner)
    tr.end(outer)
    assert tr.spans[inner].parent == outer
    dumped = tr.dump()
    assert all(s["op"] == "1:q" for s in dumped)
    total = tr.spans[outer].end - tr.spans[outer].start
    assert dumped[outer]["self"] + dumped[inner]["self"] == pytest.approx(total)


def test_tracer_install_and_uninstall_restore_every_target():
    pytest.importorskip("arcadedb_spark")
    import arcadedb_spark.lineage  # noqa: F401 - defines DataFrame.truncate_plan

    assert tracing.installed_wrappers() == []
    tr = Tracer()
    tr.install()
    try:
        assert sorted(tracing.installed_wrappers()) == sorted(n for _, _, n in tracing.TARGETS)
    finally:
        tr.uninstall()
    assert tracing.installed_wrappers() == []


@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    pytest.importorskip("duckdb")
    base = tmp_path_factory.mktemp("perfbench")
    datagen.generate(str(base / "data"), 0.001)
    o = workloads.Oracle(str(base / "data"), str(base), str(base / "cache"))
    yield o
    o.close()


def test_a_wrong_row_fails_the_digest_check(oracle):
    sql = "SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey < 5"
    want = oracle.rows(sql)
    rows = oracle.con.execute(sql + " ORDER BY c_custkey DESC").fetchall()
    assert workloads.rowset(["c_custkey", "c_acctbal"], rows) == want  # order-free
    assert workloads.rowset(["c_acctbal", "c_custkey"], [(b, a) for a, b in rows]) == want
    wrong = list(rows)
    wrong[2] = (wrong[2][0], wrong[2][1] + 0.01)
    assert workloads.rowset(["c_custkey", "c_acctbal"], wrong) != want
    assert workloads.rowset(["c_custkey", "c_acctbal"], rows[:-1]) != want
    assert oracle.rows(sql, cache=True) == want
    assert oracle.rows(sql, cache=True) == want  # read back from the pinned copy


def test_two_seeds_draw_different_inputs_for_the_same_shapes(oracle):
    pytest.importorskip("arcadedb_spark")

    def decks(seed):
        wl = workloads.Interactive(oracle.data_dir, seed, oracle)
        return [wl.deck(None, None, p) for p in range(3)]

    a, b = decks(1), decks(2)
    for da, db_ in zip(a, b):
        assert sorted(o.shape for o in da) == sorted(o.shape for o in db_)
    params = lambda d: [(o.shape, o.params) for o in sorted(d, key=lambda o: o.shape)]  # noqa: E731
    assert params(a[1]) != params(b[1])
    assert params(decks(1)[1]) == params(a[1])  # same seed, same inputs
    # pass 0 runs in one fixed order; warm passes in a seeded order
    assert [o.shape for o in a[0]] == [o.shape for o in b[0]]


def _bench(seed: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "interactive",
         "--seed", str(seed), "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.strip().splitlines()
    record = json.loads((ROOT / "perfbench" / ".work" / f"interactive-s{seed}-t0.json").read_text())
    return json.loads(out[-1]), record


@pytest.mark.slow
def test_seeds_share_job_counts_and_untraced_runs_install_no_wrapper():
    res = {}
    for seed in (11, 12):
        last, record = _bench(seed)
        assert last["correct"] and last["failed"] == 0
        assert set(last["metrics"]) == {"setup_s", "first_pass_s", "warm_pass_s", "op_geomean_ms"}
        assert record["wrappers"] == []
        jobs = {}
        for r in record["ops"]:
            if r["pass"] == 1:
                jobs[r["shape"]] = sum(q["build_jobs"] + q["action_jobs"] for q in r["queries"])
        res[seed] = (jobs, [r["params"] for r in record["ops"] if r["pass"] == 1])
    (jobs_a, params_a), (jobs_b, params_b) = res[11], res[12]
    assert params_a != params_b
    assert jobs_a == jobs_b
    assert os.path.isdir(ROOT / "perfbench" / ".work" / "data")
