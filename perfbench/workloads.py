"""Seeded operation streams and the store workload's shadow model.

Pure Python and numpy: nothing here touches Spark or the engine, so the
streams can be checked for determinism without a session.
"""

from __future__ import annotations

import numpy as np

# Short relational queries that share the TPC-H tables and the events table:
# the fixed per-query driver tax (schema inference, planning) dominates. All
# 22 TPC-H queries would take ~23 s warm at sf0.1 on 4 cores, beyond one
# round beside the window/events family and the run-time budget, so eight
# are kept, one or two per plan shape: scan-aggregate (q1, q6), join + top-k
# (q3, q18), many-way join (q9), semi-join (q4), outer join (q13) and
# anti-join (q22).
OLAP_RELATIONAL = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q4_order_priority",
    "q6_forecast_revenue",
    "q9_profit_by_nation_year",
    "q13_customer_distribution",
    "q18_large_volume_customers",
    "q22_idle_customers",
    "sessionize_events",
    "funnel_signup_to_purchase",
    "retention_cohorts",
    "window_running_revenue",
    "range_scan_events",
    "point_get_event",
    "asof_attribution",
    "ts_trailing_7d_stats",
    "rollup_revenue",
)

# Curation queries whose build phase launches many eager jobs. The prefix
# filter, containment, MinHash and cluster-assign dedups are left out: their
# DuckDB oracles take from 10 s (sf0.01) to minutes (sf0.1).
LLM_CURATION = (
    "text_bpe_token_counts",
    "graph_pagerank",
    "dedup_semantic_kmeans",
    "dedup_simhash",
    "bm25_search_topk",
)

QUERY_WORKLOADS = {"olap-relational": OLAP_RELATIONAL, "llm-curation": LLM_CURATION}
STORE_WORKLOAD = "store-slabs"
WORKLOADS = (*QUERY_WORKLOADS, STORE_WORKLOAD)

# store-slabs geometry
SHAPE = (1024, 1024)
CHUNK = (64, 64)
SLAB = (128, 128)          # update_region size
READ = (256, 256)          # read_region / tidy_view size
COMPACT_EVERY = 16         # commits between compactions
# kinds of the store stream, in order: per 30 operations, 12 slab overwrites,
# 17 region reads (9 latest, 8 snapshot) and one Spark region scan. Reads
# are the majority, so the median operation lies inside the read latencies
# and not on the edge between the faster commits and the reads.
_A = ("update", "read", "update", "snapshot", "read")
_B = ("update", "snapshot", "update", "read", "snapshot")
STORE_PATTERN = _A + _B + _A + _B + _A + ("update", "snapshot", "scan", "update", "read")
VERSION_BASE = 1_600_000_000_000  # explicit version ids: VERSION_BASE + commit index
SEQ_BASE = 1 << 62         # index sequence numbers count up from here
# Run length is fixed by --seconds, not by the clock, so a run's sample
# count (and so its tail percentile) is the same on every commit.
STORE_OPS_PER_SECOND = 5    # store stream length = this x --seconds
QUERY_ROUND_SECONDS = 15    # query workloads run --seconds // this rounds (at least 1)


def query_rounds(names, seed: int, rounds: int) -> list[list[str]]:
    """``rounds`` seeded permutations of ``names``."""
    rng = np.random.default_rng([seed, 1])
    return [[names[i] for i in rng.permutation(len(names))] for _ in range(rounds)]


def box(rng, size: tuple[int, int]) -> tuple[tuple[int, int], tuple[int, int]]:
    """A seeded region starting half a chunk past a chunk boundary, so every
    region of one size covers the same number of chunks (partially at its
    edges) whatever the seed: 3x3 chunks for a slab, 5x5 for a read."""
    r, c = (int(rng.integers(0, (n - s) // k)) * k + k // 2
            for n, s, k in zip(SHAPE, size, CHUNK))
    return ((r, r + size[0]), (c, c + size[1]))


def store_ops(seed: int, n_ops: int) -> list[dict]:
    """The store-slabs stream: ``n_ops`` (+2 at most) user operations cycling
    through ``STORE_PATTERN``, plus a maintenance step after every ``COMPACT_EVERY``
    commits, each followed by a read at latest and a snapshot read. The kind
    sequence is the same for every seed; the seed picks regions, slab data
    and snapshot versions. Commit 0 is the initial full write."""
    rng = np.random.default_rng([seed, 2])
    ops: list[dict] = []
    commits = 1

    def snapshot():
        return {"kind": "snapshot", "region": box(rng, READ),
                "commit": int(rng.integers(0, max(commits - 1, 1)))}

    step = user_ops = 0
    while user_ops < n_ops:
        kind = STORE_PATTERN[step % len(STORE_PATTERN)]
        step += 1
        user_ops += 1
        if kind == "update":
            ops.append({"kind": "update", "region": box(rng, SLAB),
                        "data_seed": int(rng.integers(0, 2**31)), "commit": commits})
            commits += 1
            if commits % COMPACT_EVERY == 0:
                ops += [{"kind": "maintain"}, {"kind": "read", "region": box(rng, READ)},
                        snapshot()]
                user_ops += 2
        elif kind == "snapshot":
            ops.append(snapshot())
        else:
            ops.append({"kind": kind, "region": box(rng, READ)})
    return ops


def initial_array(seed: int) -> np.ndarray:
    return np.random.default_rng([seed, 3]).standard_normal(SHAPE)


def slab(data_seed: int) -> np.ndarray:
    return np.random.default_rng(data_seed).standard_normal(SLAB)


class Shadow:
    """numpy model of the variable at every commit a snapshot read needs."""

    def __init__(self, first: np.ndarray, ops: list[dict]):
        self.current = first.copy()
        self.keep = {o["commit"] for o in ops if o["kind"] == "snapshot"}
        self.saved = {0: first.copy()} if 0 in self.keep else {}

    def update(self, op: dict, data: np.ndarray) -> None:
        (r0, r1), (c0, c1) = op["region"]
        self.current[r0:r1, c0:c1] = data
        if op["commit"] in self.keep:
            self.saved[op["commit"]] = self.current.copy()

    def expect(self, region, commit: int | None = None) -> np.ndarray:
        a = self.current if commit is None else self.saved[commit]
        (r0, r1), (c0, c1) = region
        return a[r0:r1, c0:c1]
