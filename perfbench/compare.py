"""Compare benchmark runs of a parent and a change.

    python3 perfbench/compare.py --parent p/*.out --change c/*.out \\
        [--parent-trace p.json --change-trace c.json]

Each ``.out`` file is the standard output of one ``run.py`` run (its
``workload=... seed=...`` line names the run; its last line is the result).
Prints one row per (metric, workload): each side's median and quartiles, and
the share of seed-matched pairs the change won (run the two sides
alternately, one seed per pair, so each pair shares the box's state). With
two trace files (``.bench_work/traces/<workload>-seed<n>.json`` of a
``--trace 1`` run) it also prints per-span-name self-time deltas.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import self_times  # noqa: E402


def load_run(path: str) -> tuple[str, int, dict]:
    """(workload, seed, {metric: value}) of one run's stdout. The timed
    wall (``wall_s``, from the header line) is included, so a ``--trace 0``
    run against a ``--trace 1`` run of the same seed shows tracing overhead."""
    with open(path) as f:
        lines = [ln for ln in f.read().splitlines() if ln.strip()]
    head = next(ln for ln in lines if ln.startswith("workload="))
    m = re.match(r"workload=(\S+) seed=(-?\d+) .*wall_s=([\d.]+)", head)
    values = {k: v["value"] for k, v in json.loads(lines[-1])["metrics"].items()}
    values["wall_s"] = float(m.group(3))
    return m.group(1), int(m.group(2)), values


def better_map() -> dict[str, str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def compare_runs(parent: list[str], change: list[str]) -> list[dict]:
    better = better_map()
    sides: dict[str, dict] = {"parent": {}, "change": {}}
    for side, paths in (("parent", parent), ("change", change)):
        for p in paths:
            wl, seed, values = load_run(p)
            for name, v in values.items():
                sides[side].setdefault((name, wl), {})[seed] = v
    rows = []
    for key in sorted(set(sides["parent"]) & set(sides["change"])):
        a, b = sides["parent"][key], sides["change"][key]
        seeds = sorted(set(a) & set(b))
        sign = -1 if better.get(key[0], "lower") == "lower" else 1
        won = sum(sign * (b[s] - a[s]) > 0 for s in seeds)
        rows.append({
            "metric": key[0], "workload": key[1],
            "parent": quartiles(list(a.values())), "change": quartiles(list(b.values())),
            "won": won / len(seeds) if seeds else float("nan"), "pairs": len(seeds),
        })
    return rows


def self_time_by_name(trace_path: str) -> dict[str, tuple[float, int]]:
    """{span name: (self seconds, calls)} over the timed requests."""
    with open(trace_path) as f:
        sp = json.load(f)["spans"]
    out: dict[str, tuple[float, int]] = {}
    for s, t in zip(sp, self_times(sp)):
        if s[4] < 0:
            continue
        tot, n = out.get(s[0], (0.0, 0))
        out[s[0]] = (tot + t, n + 1)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", nargs="+", required=True)
    ap.add_argument("--change", nargs="+", required=True)
    ap.add_argument("--parent-trace")
    ap.add_argument("--change-trace")
    args = ap.parse_args()

    print(f"{'metric':34} {'workload':16} {'parent q1/med/q3':>32} "
          f"{'change q1/med/q3':>32} {'delta':>8} {'won':>6}")
    for r in compare_runs(args.parent, args.change):
        pm, cm = r["parent"][1], r["change"][1]
        delta = (cm - pm) / pm if pm else float("nan")
        fmt = "/".join(f"{v:.4g}" for v in r["parent"]), "/".join(f"{v:.4g}" for v in r["change"])
        print(f"{r['metric']:34} {r['workload']:16} {fmt[0]:>32} {fmt[1]:>32} "
              f"{delta:+8.1%} {r['won']:6.0%} ({r['pairs']} pairs)")
    if args.parent_trace and args.change_trace:
        a, b = self_time_by_name(args.parent_trace), self_time_by_name(args.change_trace)
        print(f"\n{'span (self time)':40} {'parent s':>10} {'change s':>10} {'delta s':>10} "
              f"{'calls p/c':>12}")
        names = sorted(set(a) | set(b), key=lambda n: -abs(b.get(n, (0, 0))[0]
                                                            - a.get(n, (0, 0))[0]))
        for n in names:
            (ta, ca), (tb, cb) = a.get(n, (0.0, 0)), b.get(n, (0.0, 0))
            print(f"{n:40} {ta:10.3f} {tb:10.3f} {tb - ta:+10.3f} {ca:>5}/{cb:<5}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
