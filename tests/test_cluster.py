"""Connected components + pointer-chase: correctness vs a pure-Python
union-find oracle, chain fixtures, convergence, permutation invariance."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from gduns_name_match_spark.operators.cluster import (
    attach_components,
    chase_to_root,
    connected_components,
)
from gduns_name_match_spark.plans.events import (
    effective_parents,
    resolve_event_chains,
)


def _union_find(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min node per component
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for r, members in comp.items() for n in members}


def test_cc_matches_union_find(spark):
    rng = random.Random(7)
    nodes = list(range(1, 401))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(300)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    expected = _union_find(edges, nodes)
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    touched = {n for e in edges for n in e}
    for n in touched:
        assert got[n] == expected[n], f"node {n}: {got[n]} != {expected[n]}"


def test_cc_long_chain(spark):
    # pathological path graph 0-1-2-...-99: worst case for naive propagation
    edges = [(i, i + 1) for i in range(99)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = connected_components(df).collect()
    assert all(r["component"] == 0 for r in got)
    assert len(got) == 100


def test_cc_distributed_matches_union_find(spark):
    """driver_threshold=0 forces the large/small-star join loop — the
    round-7 driver fast path must not become the only covered branch."""
    rng = random.Random(11)
    nodes = list(range(1, 301))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(220)]
    edges = [(a, b) for a, b in edges if a != b]
    expected = _union_find(edges, nodes)
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, driver_threshold=0).collect()
    }
    touched = {n for e in edges for n in e}
    for n in touched:
        assert got[n] == expected[n]


def test_cc_driver_fastpath_parity(spark):
    """Driver union-find and distributed star contraction must emit the
    IDENTICAL (node, component) set — same nodes, same min-representatives —
    on a graph with chains, merges, and string node ids (the near-dup
    callers cluster on normalized text keys)."""
    rng = random.Random(5)
    edges = [(f"n{rng.randint(0, 120):03d}", f"n{rng.randint(0, 120):03d}")
             for _ in range(150)]
    edges += [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(30)]  # path graph
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    fast = sorted(map(tuple, connected_components(df).collect()))
    dist = sorted(
        map(tuple, connected_components(df, driver_threshold=0).collect())
    )
    assert fast == dist


def test_cc_permutation_invariance(spark):
    edges = [(5, 9), (9, 2), (14, 3), (3, 2), (40, 41)]
    a = connected_components(spark.createDataFrame(edges, ["src", "dst"]))
    b = connected_components(
        spark.createDataFrame(list(reversed(edges)), ["src", "dst"])
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_attach_components_singletons(spark):
    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    comp = connected_components(edges)
    nodes = spark.createDataFrame([(1,), (2,), (99,)], ["id"])
    out = attach_components(nodes, comp, "id").collect()
    m = {r["id"]: r["component"] for r in out}
    assert m == {1: 1, 2: 1, 99: 99}


def test_chase_chain(spark):
    # A→B→C→D plus unrelated X→Y
    parents = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "D"), ("X", "Y")],
        ["child_id", "parent_id"],
    )
    got = {r["child_id"]: r["root_id"] for r in chase_to_root(parents).collect()}
    assert got == {"A": "D", "B": "D", "C": "D", "X": "Y"}


def test_chase_long_chain_log_rounds(spark):
    n = 200
    parents = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["child_id", "parent_id"]
    )
    # driver_threshold=0 forces the distributed pointer-doubling path
    got = chase_to_root(parents, max_iter=10, driver_threshold=0)
    assert got.filter(F.col("root_id") != n).count() == 0


def test_chase_driver_fastpath_parity(spark):
    """The small-graph driver walk must agree exactly with the distributed
    pointer-doubling loop (roots AND depths)."""
    import random

    rng = random.Random(3)
    rows = []
    for i in range(300):
        parent = i + rng.randint(1, 7)
        rows.append((i, min(parent, 310)))
    parents = spark.createDataFrame(rows, ["child_id", "parent_id"])
    fast = {
        (r["child_id"], r["root_id"], r["depth"])
        for r in chase_to_root(parents).collect()
    }
    dist = {
        (r["child_id"], r["root_id"], r["depth"])
        for r in chase_to_root(parents, driver_threshold=0).collect()
    }
    assert fast == dist


def test_event_chain_resolution(spark):
    # merger chain 1→2 (2019, MNA) then 2→3 (2021, TC); 1 must root at 3 with
    # trail MNA+TC — the reference's later-event-overrides semantics
    events = spark.createDataFrame(
        [
            (1, 2, "2019-03-01", "MNA"),
            (2, 3, "2021-06-15", "TC"),
            (7, 8, "2020-01-01", "LQ"),
        ],
        ["fdic_id", "parent_fdic_id", "effdate", "source"],
    )
    out = {r["fdic_id"]: r for r in resolve_event_chains(events).collect()}
    assert out[1]["root_id"] == 3
    assert out[1]["source_trail"] == "MNA+TC"
    assert out[2]["root_id"] == 3
    assert out[2]["source_trail"] == "TC"
    assert out[7]["root_id"] == 8
    assert out[7]["source_trail"] == "LQ"


def test_event_chain_duplicate_events_no_row_blowup(spark):
    """One output row per EVENT row: a child with several events must not be
    multiplied by the trail join (pre-fix: n_events x n_walkers rows)."""
    events = spark.createDataFrame(
        [
            (1, 2, "2019-03-01", "MNA"),
            (1, 3, "2021-06-15", "TC"),   # later event overrides
            (3, 4, "2022-01-01", "MNA"),
        ],
        ["fdic_id", "parent_fdic_id", "effdate", "source"],
    )
    rows = resolve_event_chains(events).collect()
    assert len(rows) == 3
    by_key = {(r["fdic_id"], r["parent_fdic_id"]): r for r in rows}
    # effective parent of 1 is 3 (latest), so both of 1's event rows root at 4
    assert by_key[(1, 2)]["root_id"] == 4
    assert by_key[(1, 3)]["root_id"] == 4
    assert by_key[(1, 2)]["source_trail"] == "TC+MNA"


def test_trail_depth_cap_logs_and_completes(spark, caplog):
    """A pathological deep chain must not run one Spark job per hop: the
    trail loop caps at max_trail_hops (logged), while root_id/depth stay
    exact via the O(log n) pointer doubling."""
    import logging

    n = 40
    rows = [(i, i - 1, f"2020-01-{i % 28 + 1:02d}", "TC") for i in range(1, n)]
    ev = spark.createDataFrame(
        rows, "fdic_id long, parent_fdic_id long, effdate string, source string"
    )
    with caplog.at_level(logging.WARNING, logger="gduns_name_match_spark.plans.events"):
        out = resolve_event_chains(ev, max_trail_hops=5).collect()
    assert any("max_trail_hops" in r.message for r in caplog.records)
    assert max(r["depth"] for r in out) == n - 1          # exact despite cap
    assert max(len(r["source_trail"].split("+")) for r in out) == 5


def test_effective_parent_latest_wins(spark):
    events = spark.createDataFrame(
        [(1, 2, "2019-01-01", "MNA"), (1, 5, "2022-01-01", "MNA")],
        ["fdic_id", "parent_fdic_id", "effdate", "source"],
    )
    got = effective_parents(events).collect()
    assert len(got) == 1 and got[0]["parent_fdic_id"] == 5


def test_cc_byte_gate_falls_back_to_distributed(spark):
    """driver_byte_threshold=0 must route even a tiny edge list through the
    distributed star loop (the byte gate protects maxResultSize when node
    ids are long document texts) — output unchanged."""
    edges = [("alpha", "beta"), ("beta", "gamma"), ("x", "y")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = sorted(
        map(tuple, connected_components(df, driver_byte_threshold=0).collect())
    )
    want = sorted(
        map(tuple, connected_components(df).collect())
    )
    assert got == want
    assert dict(got)["gamma"] == "alpha"


def test_cc_byte_gate_counts_bytes_not_chars(spark, monkeypatch):
    """The byte gate measures UTF-8 bytes: 24 two-byte characters of node ids
    (48 bytes) must exceed a 40-byte gate and take the distributed star
    loop, though they are only 24 characters — output unchanged."""
    from gduns_name_match_spark.operators import cluster

    calls = []
    real_large_star = cluster._large_star

    def counting_large_star(edges):
        calls.append(1)
        return real_large_star(edges)

    edges = [("éééééé", "ëëëëëë"), ("ëëëëëë", "ïïïïïï")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    monkeypatch.setattr(cluster, "_large_star", counting_large_star)
    got = sorted(
        map(tuple, connected_components(df, driver_byte_threshold=40).collect())
    )
    assert calls, "a 48-byte edge list passed a 40-byte gate"
    assert got == [("éééééé", "éééééé"), ("ëëëëëë", "éééééé"), ("ïïïïïï", "éééééé")]


@pytest.mark.parametrize("driver_threshold", [500_000, 0])
def test_cc_rejects_mixed_node_types(spark, driver_threshold):
    """src/dst of different types fail loudly, identically on the driver
    fast path and the distributed loop."""
    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst int")
    with pytest.raises(TypeError, match="one node type"):
        connected_components(df, driver_threshold=driver_threshold)
