"""Seeded operation sequences for each workload.

A plan is a pure function of (workload, seed, seconds): one list of ``Op``
per closed-loop client. The number of cycles is fixed from ``seconds`` by a
nominal cycle time, not by how fast the program runs, so two commits always
do the same work. Every cycle holds each op type a fixed number of times,
which makes the realized mix equal the declared mix for every seed. The seed
draws every key, filter and parameter; the order of op types within cycles
comes from a fixed stream, the same for every seed, so that JVM warm-up
lands on the same ops in every run and seeds differ only in their inputs.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from data import PRIORITIES, SF01

#: workload -> (clients, nominal seconds per cycle on a 4-core host).
#: serve_mixed and batch_small are listed in BENCHMARK.json; interactive_read
#: and batch_large are run by hand (see metrics.json).
SHAPE = {
    "interactive_read": (1, 6.0),
    "serve_mixed": (2, 20.0),
    "batch_small": (1, 40.0),
    "batch_large": (1, 120.0),
}

#: Declared read mix of one interactive cycle: op type -> ops per cycle.
INTERACTIVE_MIX = {
    "point_lookup": 1,
    "one_hop_count": 1,
    "three_hop_count": 1,
    "grouped_agg": 1,
    "var_length": 1,
    "cypher_match": 1,
    "shortest_path": 1,
}

#: Declared mix of one served cycle per client: 20 reads, 5 writes (4:1).
#: Each write is followed by a read-your-writes read, counted as a read.
SERVE_READS = {"cypher": 4, "cypher_3hop": 1, "query": 5, "node": 4, "neighbors": 1}
SERVE_WRITES = ["batch_nodes", "rels", "put_node", "cypher_create", "cypher_update"]

ANALYTICS = ["pagerank", "connected_components", "label_propagation",
             "k_core", "strongly_connected_components", "bfs_distances"]
CORPUS = ["shingle_sets", "exact_dedup_groups", "minhash_dedup_pairs",
          "ngram_jaccard_pairs", "knn_bruteforce"]

#: Key ranges for benchmark-created nodes and edges: far above every seed
#: key, disjoint per client and cycle, so no write touches a seed key.
NEW_CUSTKEY_BASE = 10_000_000
NEW_EDGE_BASE = 50_000_000


@dataclass(frozen=True)
class Op:
    client: int
    index: int
    kind: str  # "read" | "write" | "job"
    type: str
    params: dict = field(default_factory=dict, compare=True, hash=False)


def cycles(workload: str, seconds: float) -> int:
    return max(1, round(seconds / SHAPE[workload][1]))


def build(workload: str, seed: int, seconds: float) -> list[list[Op]]:
    if workload not in SHAPE:
        raise ValueError(f"unknown workload {workload!r}")
    n_clients, _ = SHAPE[workload]
    out = []
    for c in range(n_clients):
        rng = random.Random(f"{workload}:{seed}:{c}")
        order = random.Random(f"{workload}:order:{c}")
        n = cycles(workload, seconds)
        if workload.startswith("batch"):
            # every pass repeats the same jobs, so passes must agree
            ops = _batch_pass(rng) * n
        elif workload == "interactive_read":
            ops = [o for _ in range(n) for o in _interactive_cycle(rng, order)]
        else:
            ops = [o for i in range(n) for o in _serve_cycle(rng, order, c, i)]
        out.append([Op(c, j, k, t, p) for j, (k, t, p) in enumerate(ops)])
    return out


def warmup(workload: str, seed: int) -> list[list[Op]]:
    """One interactive cycle run before the measured region: checked like
    any op but not timed. The listed workloads have no warm-up: their
    fixed op order puts the JVM's cold start on the same ops every run,
    and a warm-up would lengthen a served run by about a third."""
    out = []
    for c in range(SHAPE[workload][0]):
        ops = []
        if workload == "interactive_read":
            ops = _interactive_cycle(random.Random(f"{workload}:{seed}:{c}:warmup"),
                                     random.Random(f"{workload}:order:{c}:warmup"))
        out.append([Op(c, j, k, t, p) for j, (k, t, p) in enumerate(ops)])
    return out


def _interactive_cycle(rng: random.Random, order: random.Random) -> list[tuple[str, str, dict]]:
    n_cust = SF01["customer"]
    draw = {
        "point_lookup": lambda: {"custkey": rng.randrange(n_cust)},
        "one_hop_count": lambda: {"nation": rng.randrange(25)},
        "three_hop_count": lambda: {"nation": rng.randrange(25)},
        "grouped_agg": lambda: {"nations": sorted(rng.sample(range(25), 5))},
        "var_length": lambda: {"cust_lo": rng.randrange(n_cust - 50),
                               "priority": rng.choice(PRIORITIES)},
        "cypher_match": lambda: {"nation": rng.randrange(25),
                                 "min_price": rng.choice([1e5, 2e5, 3e5, 4e5])},
        "shortest_path": lambda: {"src": rng.randrange(n_cust - 10), "hops": 3},
    }
    types = [t for t, n in INTERACTIVE_MIX.items() for _ in range(n)]
    order.shuffle(types)
    return [("read", t, draw[t]()) for t in types]


def _serve_cycle(rng: random.Random, order: random.Random, client: int,
                 cycle: int) -> list[tuple[str, str, dict]]:
    n_cust, n_orders = SF01["customer"], SF01["orders"]
    draw = {
        "cypher": lambda: {"nation": rng.randrange(25),
                           "min_price": rng.choice([1e5, 2e5, 3e5, 4e5])},
        "cypher_3hop": lambda: {"nation": rng.randrange(25)},
        "query": lambda: {"custkey": rng.randrange(n_cust)},
        "node": lambda: {"custkey": rng.randrange(n_cust)},
        "neighbors": lambda: {"orderkey": rng.randrange(n_orders)},
    }
    reads = [t for t, n in SERVE_READS.items() for _ in range(n)]
    order.shuffle(reads)
    seq: list[tuple[str, str, dict]] = [("read", t, draw[t]()) for t in reads]
    key = NEW_CUSTKEY_BASE + client * 1_000_000 + cycle * 10
    edge = NEW_EDGE_BASE + client * 1_000_000 + cycle * 10
    groups = []
    for w in SERVE_WRITES:
        p = {"key": key, "client": client}
        if w == "batch_nodes":
            p["keys"] = [key, key + 1, key + 2]
            check = {"custkey": key}
        elif w == "rels":
            p.update(edge_id=edge, src=key, dst=key + 1)
            check = {"custkey": key, "expect_neighbor": key + 1}
        elif w == "put_node":
            p.update(key=key + 2, acctbal=round(rng.uniform(0, 1000), 2))
            check = {"custkey": key + 2}
        elif w == "cypher_create":
            # CREATE assigns the next free id itself: read back by key
            p["key"] = key + 3
            check = {"custkey": key + 3, "via": "cypher"}
        else:  # client 0 updates its created node, client 1 deletes it
            p.update(key=key + 3, op="set" if client == 0 else "delete",
                     acctbal=round(rng.uniform(0, 1000), 2))
            check = {"custkey": key + 3, "via": "cypher"}
        groups.append([("write", w, p), ("read", "ryw", {**check, "after": w})])
    # write groups keep their order, at fixed positions among the reads
    slots = sorted(order.sample(range(len(seq) + 1), len(groups)))
    for g, s in reversed(list(zip(groups, slots))):
        seq[s:s] = g
    return seq


def _batch_pass(rng: random.Random) -> list[tuple[str, str, dict]]:
    params = {
        "pagerank": {"damping": rng.choice([0.8, 0.85, 0.9]), "iterations": 5},
        "label_propagation": {"iterations": 3},
        "k_core": {"k": 2},
        # a few start sets, so their oracle answers are cached after a few runs
        "bfs_distances": {"start_lo": 1000 * rng.randrange(14), "n_start": 500,
                          "max_depth": 4},
        "minhash_dedup_pairs": {"threshold": 0.8},
        "ngram_jaccard_pairs": {"threshold": 0.5},
        "knn_bruteforce": {"query_ids": sorted(rng.sample(range(SF01["embeddings"]), 5)),
                           "k": 10},
    }
    return ([("job", t, {"job": "analytics", **params.get(t, {})}) for t in ANALYTICS]
            + [("job", t, {"job": "corpus", **params.get(t, {})}) for t in CORPUS])


def net_writes(plan: list[list[Op]]) -> dict[str, int]:
    """Customer nodes and KNOWS edges the plan's writes add on net."""
    nodes = edges = 0
    for ops in plan:
        for op in ops:
            if op.type == "batch_nodes":
                nodes += len(op.params["keys"])
            elif op.type == "cypher_create":
                nodes += 1
            elif op.type == "cypher_update" and op.params["op"] == "delete":
                nodes -= 1
            elif op.type == "rels":
                edges += 1
    return {"Customer": nodes, "KNOWS": edges}
