"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

The last test makes two real store-slabs runs (under a minute each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import types

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import compare  # noqa: E402
import spans  # noqa: E402
import workloads as wl  # noqa: E402
import worker  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_schema_names_every_metric_with_its_unit():
    spec = _spec()
    mem = dict.fromkeys(("python_peak", "heap_peak", "non_heap_peak", "live_heap"), 1.0)
    e2e = worker.e2e_metrics([0.1, 0.2, 0.3], 1.0, 2.0, mem)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: u for k, (_, u) in e2e.items()}
    run = worker.Run(types.SimpleNamespace(trace=1))
    layers = {**worker.layer_metrics(run, 1.0, mem), **worker.store_metrics(run)}
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: u for k, (_, u) in layers.items()}
    assert {w["name"] for w in spec["workloads"]} <= set(wl.WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_same_seed_same_operations():
    assert wl.store_ops(7, 60) == wl.store_ops(7, 60)
    assert wl.store_ops(7, 60) != wl.store_ops(8, 60)
    assert wl.query_rounds(wl.OLAP_RELATIONAL, 7, 2) == wl.query_rounds(wl.OLAP_RELATIONAL, 7, 2)
    assert wl.query_rounds(wl.OLAP_RELATIONAL, 7, 1) != wl.query_rounds(wl.OLAP_RELATIONAL, 8, 1)
    assert np.array_equal(wl.initial_array(7), wl.initial_array(7))
    assert np.array_equal(wl.slab(11), wl.slab(11))


def test_store_stream_shape():
    ops = wl.store_ops(3, 60)
    assert 60 <= sum(o["kind"] != "maintain" for o in ops) <= 62
    assert [o["kind"] for o in ops] == [o["kind"] for o in wl.store_ops(4, 60)]
    commits = [o["commit"] for o in ops if o["kind"] == "update"]
    assert commits == list(range(1, len(commits) + 1))
    seen = 1
    for i, o in enumerate(ops):
        if o["kind"] == "update":
            seen += 1
        elif o["kind"] == "snapshot":
            assert o["commit"] < max(seen - 1, 1)
        elif o["kind"] == "maintain":
            assert [x["kind"] for x in ops[i + 1:i + 3]] == ["read", "snapshot"]


def test_shadow_model_keeps_snapshots():
    ops = [{"kind": "update", "region": ((0, 2), (0, 2)), "commit": 1},
           {"kind": "snapshot", "region": ((0, 2), (0, 2)), "commit": 0},
           {"kind": "snapshot", "region": ((0, 2), (0, 2)), "commit": 1}]
    sh = wl.Shadow(np.zeros((4, 4)), ops)
    sh.update(ops[0], np.ones((2, 2)))
    sh.update({"kind": "update", "region": ((0, 2), (0, 2)), "commit": 2}, np.full((2, 2), 2.0))
    assert (sh.expect(((0, 2), (0, 2)), 0) == 0).all()
    assert (sh.expect(((0, 2), (0, 2)), 1) == 1).all()
    assert (sh.expect(((0, 2), (0, 2))) == 2).all()


def test_self_time_arithmetic_on_a_synthetic_tree():
    # op [0,10] -> build [1,4] -> load [2,3]; exec [5,9]; a later op [11,12]
    sp = [["op", 0.0, 10.0, -1, 0], ["build", 1.0, 4.0, 0, 0], ["load", 2.0, 3.0, 1, 0],
          ["exec", 5.0, 9.0, 0, 0], ["op", 11.0, 12.0, -1, 1]]
    assert spans.self_times(sp) == [3.0, 2.0, 1.0, 4.0, 1.0]


def test_tracer_nests_and_tags_groups():
    t = spans.Tracer()
    groups = []
    t.set_group = lambda g: groups.append(g) or (groups[-2] if len(groups) > 1 else None)
    t.request = 5
    with t.span("op"):
        with t.span("build", group="build"):
            pass
    assert [s[0] for s in t.spans] == ["op", "build"]
    assert t.spans[1][3] == 0 and t.spans[1][4] == 5
    assert groups[0] == "5|build"


def test_tracer_charges_overhead_only_inside_requests():
    t = spans.Tracer()
    with t.span("setup"):
        pass
    assert t.overhead == 0.0
    t.request = 0
    with t.span("op"):
        pass
    assert t.overhead > 0.0
    start, end = t.spans[1][1:3]
    assert start <= end


def test_oracle_clock_times_the_oracle_side_and_restores():
    class Con:
        def execute(self, sql):
            return self

        def df(self):
            return "frame"

    fake = types.SimpleNamespace(duckdb_connection=lambda sf: Con(),
                                 _canonical=lambda df: [df])
    originals = fake.duckdb_connection, fake._canonical
    clock = worker.OracleClock()
    with clock.installed(fake):
        con = fake.duckdb_connection("sf")
        assert con.execute("select 1").df() == "frame"
        assert fake._canonical("x") == ["x"]
    assert clock.s > 0.0
    assert (fake.duckdb_connection, fake._canonical) == originals


def test_tail_rule():
    assert worker.tail(list(range(14)))[0] == 50.0
    assert worker.tail(list(range(100)))[0] == pytest.approx(90.0)


def test_compare_pairs_by_seed(tmp_path):
    def out(path, seed, v):
        path.write_text(f"workload=store-slabs seed={seed} trace=0 wall_s=2.5\n" + json.dumps(
            {"correct": True, "attempted": 1, "failed": 0,
             "metrics": {"op_p50_s": {"value": v, "unit": "s"}}}) + "\n")
        return str(path)

    parent = [out(tmp_path / f"p{s}", s, 1.0) for s in (1, 2, 3)]
    change = [out(tmp_path / f"c{s}", s, v) for s, v in ((1, 0.9), (2, 1.1), (3, 0.8))]
    row, wall = compare.compare_runs(parent, change)
    assert wall["metric"] == "wall_s" and wall["won"] == 0
    assert row["won"] == pytest.approx(2 / 3) and row["pairs"] == 3
    assert row["change"][1] == pytest.approx(0.9)


def _store_counts(seed: int) -> dict:
    res = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "store-slabs",
         "--seed", str(seed), "--seconds", "10", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stdout[-2000:] + res.stderr[-2000:]
    m = json.loads(res.stdout.strip().splitlines()[-1])["metrics"]
    return {k: m[k]["value"] for k in ("chunkstore.read_chunk.calls", "storage.files_per_scan",
                                       "storage.append.bytes", "stored_bytes_per_user_byte",
                                       "maintenance.files_after")}


def test_store_counts_repeat_exactly():
    first, second = _store_counts(4), _store_counts(4)
    assert first == second
    assert all(v > 0 for v in first.values())
