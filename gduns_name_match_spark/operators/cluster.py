"""Transitive clustering: connected components + functional pointer chase.

Replaces the reference's O(n²) in-memory parent-chaining double loop
(fdic_events.py:379-392, credit_union_mna.py:369-379) with two scalable
primitives:

* ``connected_components`` — alternating large-star/small-star iterated
  equi-joins (Kiveris et al., "Connected Components in MapReduce and
  Beyond"), O(log n) rounds on pathological chains, each round two
  shuffle joins. Used for mention↔mention near-dup clusters.
* ``chase_to_root`` — pointer doubling over a functional parent graph
  (each child has one effective parent, latest event wins), O(log chain)
  rounds. This is the faithful semantics of the reference's chain rewrite:
  every event row ends up pointing at its ultimate parent.

Every iteration localCheckpoints to truncate lineage — an iterative join
without it re-executes the whole prefix DAG each round and dies at depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _edge_checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        # modded before summing: ANSI mode makes a raw sum of 64-bit hashes
        # overflow; n * 2^31 stays far inside long range
        F.coalesce(
            F.sum(F.pmod(F.xxhash64("src", "dst"), F.lit(2_147_483_647))), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to the minimum
    of N(u) ∪ {u}."""
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large→small; connect every smaller-or-equal neighbor
    (and u itself) to the minimum neighbor."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    with_min = oriented.join(mins, "src")
    out = with_min.select(F.col("dst").alias("src"), F.col("m").alias("dst")).union(
        mins.select(F.col("src"), F.col("m").alias("dst"))
    )
    return out.filter(F.col("src") != F.col("dst")).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    driver_threshold: int = 500_000,
    driver_byte_threshold: int = 256 * 1024 * 1024,
) -> DataFrame:
    """(node, component) where component = min node id of the component.

    ``edges`` is an undirected edge list; isolated nodes are the caller's
    concern (left-join and coalesce(component, node)).

    Hybrid execution (round 7, the chase_to_root pattern): the accepted
    near-dup edge set is orders of magnitude smaller than the corpus (the
    50k-doc profile: ~25k edges feeding 5-8 star rounds of ~2 jobs each —
    18-26s of pure scheduling for a graph a union-find folds in
    milliseconds). At or below ``driver_threshold`` edges AND
    ``driver_byte_threshold`` total key bytes (node ids can be long
    document texts — a row cap alone could send a multi-GB collect into
    spark.driver.maxResultSize and fail the query instead of falling
    back), the components are computed with one Arrow collect +
    path-compressed union-find keyed by min node — identical
    (node, component=min(component)) output (tests/test_cluster.py asserts
    driver-vs-distributed equality). Above either threshold the
    O(log n)-round large/small-star join loop runs distributed, unchanged.
    Both gates come from ONE aggregation on the checkpointed edge frame —
    the same measured-gate pattern as the broadcast decision tail."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # one node type on both ends, checked before either branch: the driver
    # branch would declare the src type for dst-drawn components, the
    # distributed one would silently widen
    src_t, dst_t = e.schema["src"].dataType, e.schema["dst"].dataType
    if src_t != dst_t:
        raise TypeError(
            f"connected_components: {src} is {src_t.simpleString()} but {dst} "
            f"is {dst_t.simpleString()}; cast both to one node type"
        )
    e = e.filter(F.col("src") != F.col("dst")).distinct().localCheckpoint()
    # octet_length, not length: the gate guards the collected payload, and
    # a multi-byte id (non-ASCII document text) is up to 4 bytes per char
    gate = e.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(
                F.octet_length(F.col("src").cast("string")).cast("long")
                + F.octet_length(F.col("dst").cast("string"))
            ),
            F.lit(0),
        ).alias("key_bytes"),
    ).collect()[0]
    if gate["n"] <= driver_threshold and gate["key_bytes"] <= driver_byte_threshold:
        from pyspark.sql import types as T

        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        # toPandas, not collect: the Arrow transfer path moves the edge
        # columns in batches (a 444k-edge prose graph collected as Rows
        # measured 5.7s; the Arrow frame ~1s — guide §6 'Arrow for driver
        # transfers')
        # tolist(), not to_numpy(): numpy scalars (int64) from the pandas
        # columns would flow through the union-find into createDataFrame,
        # which rejects numpy types for LongType nodes
        pdf = e.toPandas()
        for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN: the representative is the component's
                # smallest node, matching the star-contraction output
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        node_t = e.schema["src"].dataType
        schema = T.StructType(
            [
                T.StructField("node", node_t),
                T.StructField("component", node_t),
            ]
        )
        rows = [(x, find(x)) for x in parent]
        return e.sparkSession.createDataFrame(rows, schema)
    prev = _edge_checksum(e)
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint()
        cur = _edge_checksum(e)
        if cur == prev:
            break
        prev = cur
    # converged: every edge points node → its component minimum
    comp = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("node"), F.col("dst").alias("component"))
    return comp.union(roots).groupBy("node").agg(F.min("component").alias("component"))


def attach_components(
    nodes: DataFrame, components: DataFrame, node_col: str
) -> DataFrame:
    """Join cluster ids back onto a node table; singletons become their own
    component."""
    c = components.withColumnRenamed("node", node_col)
    return nodes.join(c, node_col, "left").withColumn(
        "component", F.coalesce(F.col("component"), F.col(node_col))
    )


def chase_to_root(
    parents: DataFrame,
    child_col: str = "child_id",
    parent_col: str = "parent_id",
    max_iter: int = 20,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Resolve each child to its ultimate ancestor by pointer doubling.

    ``parents`` must be functional (one parent per child — pre-aggregate with
    max_by(parent, effdate) to enforce the reference's 'latest event wins'
    ordering, fdic_events.py:351,381). Cycles are broken by stopping at
    max_iter with the then-current pointer (the reference's loop would not
    terminate differently on a cycle; real merger data is acyclic).

    Hybrid execution: a functional parent graph is O(|registry events|) —
    thousands of rows even when the MENTION stream is 10^12 — so below
    ``driver_threshold`` rows the chase runs as one collect + an O(n) Python
    walk (the iterative join version costs ~2 Spark jobs per round, pure
    overhead at this size). Above the threshold the O(log n)-round
    pointer-doubling join loop runs distributed.

    Returns (child_id, root_id, depth) — depth = number of hops compressed.
    """
    p = (
        parents.select(F.col(child_col).alias("child"), F.col(parent_col).alias("ptr"))
        .filter(F.col("child") != F.col("ptr"))  # drop degenerate self-loops
        .withColumn("depth", F.lit(1))
        .localCheckpoint()
    )
    if p.count() <= driver_threshold:
        from pyspark.sql import types as T

        ptr = {r["child"]: r["ptr"] for r in p.collect()}
        cap = 1 << min(max_iter, 30)
        out_rows = []
        for child, first in ptr.items():
            cur, depth, seen = first, 1, {child}
            while cur in ptr and cur not in seen and depth < cap:
                seen.add(cur)
                cur = ptr[cur]
                depth += 1
            out_rows.append((child, cur, depth))
        schema = T.StructType(
            [
                T.StructField(child_col, p.schema["child"].dataType),
                T.StructField("root_id", p.schema["ptr"].dataType),
                T.StructField("depth", T.IntegerType()),
            ]
        )
        return p.sparkSession.createDataFrame(out_rows, schema)
    for _ in range(max_iter):
        # doubling step: follow the CURRENT estimate through itself, so the
        # resolved chain length doubles every round (log₂ rounds total)
        hop = p.select(F.col("child").alias("ptr"), F.col("ptr").alias("nxt"),
                       F.col("depth").alias("d2"))
        stepped = (
            p.join(hop, "ptr", "left")
            .withColumn("moved", F.col("nxt").isNotNull())
            .select(
                "child",
                F.coalesce("nxt", "ptr").alias("ptr"),
                (F.col("depth") + F.coalesce("d2", F.lit(0))).alias("depth"),
                "moved",
            )
            .localCheckpoint()
        )
        moved_any = stepped.filter(F.col("moved")).isEmpty() is False
        p = stepped.drop("moved")
        if not moved_any:
            break
    return p.select(
        F.col("child").alias(child_col),
        F.col("ptr").alias("root_id"),
        "depth",
    )
