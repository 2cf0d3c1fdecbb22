"""The benchmark's own tests: span self-time arithmetic, the oracles, and a
tiny-size smoke run of every workload through the real command.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spans import Tracer, self_times, union_length  # noqa: E402

BENCHMARK = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


# -- self time --------------------------------------------------------------


def test_union_length_merges_overlaps_and_clips():
    assert union_length([], 0, 10) == 0
    assert union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert union_length([(-5, 2), (9, 20)], 0, 10) == 3
    assert union_length([(1, 2), (1, 2), (3, 3)], 0, 10) == 1


def _span(i, parent, start, end, name="s"):
    return {"id": i, "name": name, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),   # child
        _span(2, 0, 3.0, 6.0),   # overlapping child: union 1..6 = 5
        _span(3, 1, 1.5, 3.5),   # grandchild: counts against span 1 only
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(2.0)


def test_spark_jobs_become_children_of_their_job_group():
    t = Tracer(enabled=True)
    t.spans = [_span(0, None, 0.0, 10.0, "merge"), _span(1, 0, 0.5, 1.0, "snapshot")]
    t.add_jobs([
        {"id": 7, "group": "span-0", "start": 2.0, "end": 6.0},
        {"id": 8, "group": None, "start": 2.0, "end": 9.0},  # unattributed
    ])
    summ = t.summary()
    assert summ["spark.job"]["count"] == 1
    assert summ["merge"]["total_s"] == pytest.approx(10.0)
    assert summ["merge"]["self_s"] == pytest.approx(10.0 - 0.5 - 4.0)


def test_patch_records_spans_and_restores():
    class Owner:
        def work(self, x):
            return x * 2

    t = Tracer(enabled=True)
    t.patch(Owner, "work", "owner.work", after=lambda tr, out, a, k: tr.count("n", out))
    assert Owner().work(3) == 6
    t.unpatch_all()
    assert Owner().work(4) == 8
    assert [s["name"] for s in t.spans] == ["owner.work"]
    assert t.counts["n"] == 6


def test_disabled_tracer_records_nothing():
    t = Tracer()
    with t.span("x"):
        t.count("c")
    assert t.spans == [] and not t.counts


# -- oracles ----------------------------------------------------------------


def test_python_lww_matches_reference_replay():
    sys.path.insert(0, ROOT)
    import hashlib

    import oracle
    from arc_spark.cdc.reference import _normalize, reference_replay

    evs = [
        {"seq": 0, "op": "insert", "repo": "a", "path": "x", "commit": "c", "content": "v0 \n"},
        {"seq": 1, "op": "update", "repo": "a", "path": "x", "commit": "c", "content": "v1\t\n"},
        {"seq": 2, "op": "insert", "repo": "a", "path": "y", "commit": "c", "content": "y"},
        {"seq": 3, "op": "delete", "repo": "a", "path": "y", "commit": "c", "content": None},
        {"seq": 4, "op": "schema-change", "repo": "a", "path": None, "commit": "c",
         "content": None},
    ]
    ref = reference_replay(evs)
    rows = [
        (e["repo"], e["path"], e["seq"], e["op"],
         None if e["op"] == "delete"
         else hashlib.sha256(_normalize(e["content"]).encode()).hexdigest())
        for e in evs if e["op"] != "schema-change"
    ]
    want = sorted((k[0], k[1], v["seq"], v["sha256"]) for k, v in ref.items())
    assert sorted(oracle.lww(rows)) == want
    with_del = oracle.lww(rows, with_deletes=True)
    assert sorted(r[3] for r in with_del) == ["delete", "upsert"]


# -- the command ------------------------------------------------------------


def _run(*args, cwd=ROOT, timeout=600):
    return subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=timeout)


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    return out


@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
def test_smoke_end_to_end_metrics(workload):
    out = _result(_run("--workload", workload, "--size", "smoke", "--seconds", "1",
                       "--seed", "5", "--trace", "0"))
    assert set(out["metrics"]) == {m["name"] for m in BENCHMARK["end_to_end"]}
    for m in BENCHMARK["end_to_end"]:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0


@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
def test_smoke_traced_per_layer_metrics(workload):
    out = _result(_run("--workload", workload, "--size", "smoke", "--seconds", "1",
                       "--seed", "5", "--trace", "1"))
    assert set(out["metrics"]) == {m["name"] for m in BENCHMARK["per_layer"]}
    for m in BENCHMARK["per_layer"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]


def test_smoke_query_suite():
    out = _result(_run("--workload", "query_suite", "--size", "smoke", "--seconds", "1",
                       "--seed", "5"))
    assert out["attempted"] == 13 and out["metrics"]["query_total_s"]["value"] > 0


def test_oracle_self_check_against_reference_replay():
    sys.path.insert(0, ROOT)
    import oracle
    from arc_spark.cdc.generator import change_stream
    from arc_spark.session import get_spark

    spark = get_spark("perfbench-oracle", master="local[2]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    change_stream(spark, 3000, seed=9, n_repos=20, paths_per_repo=10) \
        .createOrReplaceTempView("oracle_check")
    assert oracle.self_check(spark, "oracle_check", 2999)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                           BENCHMARK["workloads"][0]["name"], "--seed", "1",
                           "--seconds", "1", "--trace", "0"],
                          cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
