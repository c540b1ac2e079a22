"""Graph operators beyond PageRank/CC: distance-gated entity pairs and
community detection.

* ``entity_pairs_within_distance`` — the reference's relation-extraction
  candidate gate: entity pairs whose undirected shortest-path distance in
  the doc's lemma graph is <= max_skip (reference: textgraphs/pipe.py:
  379-431, defaults.py:22 max_skip=11). Per-doc graphs are tiny, so the
  BFS runs inside the extraction UDF batch — no corpus-level shuffle at
  all, mirroring the reference's own per-chunk scoping.
* ``label_propagation`` — community detection stand-in for the
  reference's Girvan-Newman visualization clustering (textgraphs/vis.py:
  189-204), as iterative joins: each round every node adopts the most
  common label among its neighbors (ties -> smaller label; deterministic).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAIR_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("src_key", T.StringType()),
    T.StructField("dst_key", T.StringType()),
    T.StructField("distance", T.IntegerType()),
])

MAX_SKIP = 11  # reference defaults.py:22
# HyperBall/HyperANF round cap, shared with the DuckDB oracle generators
# (plans/er_oracle.py imports it as the BFS depth cap) so engine and
# oracle can never silently desynchronize on a deeper-diameter corpus:
# the engine stops early at the ball fixpoint, the oracle explores to
# the same bound, and min-distances at the fixpoint are cap-invariant
BALL_MAX_ITER = 16


def entity_pairs_within_distance(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    *, max_skip: int = MAX_SKIP,
) -> DataFrame:
    """Per-doc entity pairs with lemma-graph distance <= max_skip."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from collections import deque

        from ..doclevel.build import build_doc_graph

        for pdf in batches:
            out = []
            for r_id, r_text in zip(pdf[id_col], pdf[text_col]):
                g = build_doc_graph(r_text if r_text is not None else "")
                ents = [nd for nd in g.nodes.values() if nd.kind == "ent"]
                if len(ents) < 2:
                    continue
                adj: dict[int, set[int]] = {}
                for e in g.edges.values():
                    adj.setdefault(e.src, set()).add(e.dst)
                    adj.setdefault(e.dst, set()).add(e.src)
                # BFS from each entity (graphs are tens of nodes)
                for a in ents:
                    dist = {a.node_id: 0}
                    q = deque([a.node_id])
                    while q:
                        u = q.popleft()
                        if dist[u] >= max_skip:
                            continue
                        for v in adj.get(u, ()):
                            if v not in dist:
                                dist[v] = dist[u] + 1
                                q.append(v)
                    for b in ents:
                        if b.node_id != a.node_id and b.node_id in dist:
                            # path length in nodes (reference counts path
                            # nodes, pipe.py:412-425) = edges + 1
                            if dist[b.node_id] + 1 <= max_skip:
                                out.append({
                                    "doc_id": int(r_id),
                                    "src_key": a.key,
                                    "dst_key": b.key,
                                    "distance": dist[b.node_id],
                                })
            yield pd.DataFrame(out, columns=[f.name for f in PAIR_SCHEMA.fields])

    return docs.select(id_col, text_col).mapInPandas(run, schema=PAIR_SCHEMA)


def label_propagation(
    edges: DataFrame, *, src: str = "src", dst: str = "dst",
    max_iter: int = 5,
) -> DataFrame:
    """Community labels via synchronous label propagation (iterative joins).

    Deterministic: tie-break on (count desc, label asc). Each round is one
    groupBy over the undirected adjacency — the same shuffle shape as
    PageRank, safe at any scale.
    """
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = und.select(F.col("a").alias("node")).distinct().withColumn(
        "label", F.col("node")
    ).localCheckpoint()
    for _ in range(max_iter):
        neigh = (
            und.join(labels, und["b"] == labels["node"])
            .groupBy("a", "label")
            .agg(F.count("*").alias("n"))
        )
        # window row_number instead of max_by(struct(n, -label)): the
        # negation trick only orders NUMERIC labels; (n DESC, label ASC)
        # is type-agnostic (string node keys work) and is the exact
        # formulation an ANSI-SQL oracle reproduces. Same shuffle shape —
        # the window partitions on the node key the groupBy just hashed.
        from pyspark.sql.window import Window

        w = Window.partitionBy("a").orderBy(F.desc("n"), F.asc("label"))
        best = (
            neigh.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(F.col("a").alias("node"), "label")
        )
        labels = best.localCheckpoint()
    return labels


def girvan_newman_communities(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    n_communities: int = 2,
    max_edges: int = 50_000,
) -> DataFrame:
    """EXACT Girvan-Newman clustering (reference: textgraphs/vis.py:189-204
    uses networkx.girvan_newman to color the visualization): repeatedly
    remove the highest-edge-betweenness edge until the graph splits into
    ``n_communities`` components. Returns (node, community) with
    community = min member id.

    Size-adaptive by design: betweenness recomputation is O(V*E) PER
    REMOVED EDGE and inherently centralized, so this exact form is gated
    to visualization-scale graphs (``max_edges``) and runs on the driver
    after a bounded collect — the same adaptive pattern as the CC
    fast path. At corpus scale use ``label_propagation`` (the declared
    substitute; see COVERAGE.md divergences).
    """
    from collections import deque

    e = (
        edges.select(F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d"))
        .filter(F.col("s") != F.col("d"))
        .select(F.least("s", "d").alias("s"), F.greatest("s", "d").alias("d"))
        .distinct()
    )
    n_e = e.count()
    if n_e > max_edges:
        raise ValueError(
            f"girvan_newman_communities is a visualization-scale operator "
            f"(edges={n_e} > max_edges={max_edges}); use label_propagation"
        )
    edge_set = {(int(r.s), int(r.d)) for r in e.toPandas().itertuples(index=False)}
    nodes = sorted({x for ab in edge_set for x in ab})

    def components(adj):
        seen, comps = set(), []
        for n0 in nodes:
            if n0 in seen:
                continue
            comp, q = {n0}, deque([n0])
            seen.add(n0)
            while q:
                u = q.popleft()
                for v in adj[u]:
                    if v not in seen:
                        seen.add(v)
                        comp.add(v)
                        q.append(v)
            comps.append(comp)
        return comps

    def edge_betweenness(adj):
        """Brandes' algorithm accumulated onto edges (undirected)."""
        bet = {frozenset(ed): 0.0 for ed in edge_set}
        for s0 in nodes:
            # BFS: shortest-path counts
            dist = {s0: 0}
            sigma = {s0: 1.0}
            preds: dict[int, list[int]] = {s0: []}
            order = []
            q = deque([s0])
            while q:
                u = q.popleft()
                order.append(u)
                for v in adj[u]:
                    if v not in dist:
                        dist[v] = dist[u] + 1
                        sigma[v] = 0.0
                        preds[v] = []
                        q.append(v)
                    if dist[v] == dist[u] + 1:
                        sigma[v] += sigma[u]
                        preds[v].append(u)
            delta = {u: 0.0 for u in order}
            for v in reversed(order):
                for u in preds[v]:
                    c = sigma[u] / sigma[v] * (1.0 + delta[v])
                    key = frozenset((u, v))
                    if key in bet:
                        bet[key] += c
                    delta[u] += c
        return bet

    cur = set(edge_set)
    while True:
        adj = {n0: set() for n0 in nodes}
        for a, b in cur:
            adj[a].add(b)
            adj[b].add(a)
        comps = components(adj)
        if len(comps) >= n_communities or not cur:
            break
        bet = edge_betweenness(adj)
        # deterministic: max betweenness, ties by smallest (s, d)
        victim = max(
            cur, key=lambda ed: (bet[frozenset(ed)], (-ed[0], -ed[1]))
        )
        cur.discard(victim)

    rows = [(n0, min(c)) for c in comps for n0 in c]
    return edges.sparkSession.createDataFrame(rows, "node long, community long")


def _normalized_edges(
    edges: DataFrame, src: str, dst: str
) -> DataFrame:
    """Distinct undirected edges as (a, b) with a < b, self-loops dropped."""
    return (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .filter(F.col("_s") != F.col("_d"))
        .select(
            F.least("_s", "_d").alias("a"), F.greatest("_s", "_d").alias("b")
        )
        .distinct()
    )


def triangle_counts(
    edges: DataFrame, *, src: str = "src", dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts via degree-ordered edge orientation —
    the canonical shuffle-efficient distributed triangle algorithm
    (Suri & Vassilvitskii's MR orientation / GraphX's triangleCount
    shape).

    Why orientation matters at 10^12-edge scale: enumerating wedges from
    the raw adjacency generates sum(deg^2) candidates — a hot node (a
    stopword lemma, a head domain) with degree d contributes d^2 pairs.
    Orienting every edge from its lower-(degree, node) endpoint to the
    higher bounds every out-degree by O(sqrt(m)), so the wedge join is
    bounded by m^1.5 TOTAL and the hot node's wedges are spread across
    its (many, low-out-degree) neighbors instead of concentrating in one
    task. Three shuffles end-to-end: degree agg, wedge self-join,
    closing-edge join; each on keys Catalyst hash-partitions.

    Returns (node, triangles) for every node in >= 1 triangle.
    """
    # materialize the normalized edge set: it feeds the degree agg, both
    # orientation joins, the wedge self-join, and the closing join — an
    # unmaterialized lineage would recompute the upstream edge derivation
    # (often a full corpus extraction) once PER REFERENCE (a .explain
    # audit showed 45 corpus scans on the lemma-graph query without this)
    e = _normalized_edges(edges, src, dst).localCheckpoint()
    tri = _oriented_triangles(e)
    # attribute each triangle to all three corners, then one hash agg
    per_node = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    return per_node


def _oriented_triangles(e: DataFrame) -> DataFrame:
    """Enumerate each triangle of the normalized edge set (a, b) exactly
    once as (u, y, z), via degree-ordered orientation (see
    triangle_counts for the O(m^1.5) bound rationale). ``e`` must
    already be distinct undirected edges with a < b, materialized by the
    caller (it is read by the degree agg and both orientation joins)."""
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # orient u -> v iff (deg_u, u) < (deg_v, v); carry v's rank so wedge
    # pairs can be ordered consistently with the orientation
    oriented = (
        e.join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(
                    F.col("a").alias("u"), F.col("b").alias("v"),
                    F.col("db").alias("dv"),
                ),
            ).otherwise(
                F.struct(
                    F.col("b").alias("u"), F.col("a").alias("v"),
                    F.col("da").alias("dv"),
                )
            ).alias("o")
        )
        .select("o.u", "o.v", "o.dv")
    ).localCheckpoint()  # referenced by both wedge sides + the closing join
    o1 = oriented.select(
        F.col("u"), F.col("v").alias("y"), F.col("dv").alias("dy")
    )
    o2 = oriented.select(
        F.col("u"), F.col("v").alias("z"), F.col("dv").alias("dz")
    )
    # wedges at u with (deg, node)-ordered endpoints y < z: the closing
    # edge, if present, is oriented exactly y -> z
    wedges = o1.join(o2, "u").filter(
        (F.col("dy") < F.col("dz"))
        | ((F.col("dy") == F.col("dz")) & (F.col("y") < F.col("z")))
    )
    closing = oriented.select(
        F.col("u").alias("y"), F.col("v").alias("z")
    )
    return wedges.join(closing, ["y", "z"]).select("u", "y", "z")


def link_prediction_jaccard(
    edges: DataFrame, *, src: str = "src", dst: str = "dst",
    min_common: int = 2, max_degree: int | None = None,
) -> DataFrame:
    """Jaccard link prediction: for unconnected node pairs sharing >=
    ``min_common`` neighbors, score = |N(a) & N(b)| / |N(a) | N(b)|.

    The wedge join through a shared neighbor c generates deg(c)^2 pair
    rows, so a hot hub (stopword lemma / head domain) dominates the
    shuffle at scale. ``max_degree`` excludes such super-nodes from the
    CENTER role (the standard stop-node cut in similarity joins);
    degrees in the Jaccard denominator still count every edge, so
    scores for surviving pairs stay exact and the cut only suppresses
    pairs whose ONLY evidence is a hub (the pairs with the least signal
    — a hub neighbor is shared by nearly everyone).
    """
    # materialized for the same reason as triangle_counts: e feeds the
    # adjacency (twice), the degree agg, both wedge sides, and the
    # existing-edge anti-join — each a fresh upstream recompute otherwise
    e = _normalized_edges(edges, src, dst).localCheckpoint()
    und = e.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionAll(
        e.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    deg = und.groupBy("node").agg(F.count("*").alias("deg"))
    centers = und.select(F.col("nbr").alias("c"), F.col("node"))
    if max_degree is not None:
        ok = deg.filter(F.col("deg") <= max_degree).select(
            F.col("node").alias("c")
        )
        centers = centers.join(ok, "c")
    p1 = centers.select("c", F.col("node").alias("x"))
    p2 = centers.select("c", F.col("node").alias("y"))
    common = (
        p1.join(p2, "c")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count("*").alias("common"))
        .filter(F.col("common") >= min_common)
    )
    # drop pairs already connected (link prediction proposes NEW edges)
    cand = common.join(
        e, (common["x"] == e["a"]) & (common["y"] == e["b"]), "left_anti"
    )
    scored = (
        cand
        .join(deg.withColumnRenamed("node", "x").withColumnRenamed("deg", "dx"), "x")
        .join(deg.withColumnRenamed("node", "y").withColumnRenamed("deg", "dy"), "y")
        .select(
            F.col("x").alias("src"), F.col("y").alias("dst"), "common",
            F.round(
                F.col("common")
                / (F.col("dx") + F.col("dy") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )
    return scored


def kcore(
    edges: DataFrame, *, src: str = "src", dst: str = "dst",
    k: int = 3, max_iter: int = 50,
) -> DataFrame:
    """Nodes of the k-core (the maximal induced subgraph where every
    node has degree >= k), by distributed iterative peeling — the graph
    signal web-quality pipelines use to separate organically-linked
    content from link farms (farms collapse under peeling; dense
    organic cores survive).

    Each round recomputes degrees WITHIN the surviving induced subgraph
    (two semi-joins + one agg — keyed shuffles only) and drops nodes
    below k; the fixed point is reached when no node drops, checked
    with a 1-row count aggregate (the bounded-collect convergence
    pattern pagerank/components use). Rounds needed = peeling depth,
    typically tens even on web graphs. Extra rounds after convergence
    are no-ops, so a fixed-round oracle unrolling agrees with the
    converged result.

    Returns (node, core_deg) — survivors with their degree inside the
    k-core (all >= k).
    """
    e = _normalized_edges(edges, src, dst).localCheckpoint()
    und = e.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionAll(
        e.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    ).localCheckpoint()
    alive = und.select("node").distinct().localCheckpoint()
    n_alive = alive.count()
    for _ in range(max_iter):
        deg = (
            und.join(alive, "node")
            .join(alive.withColumnRenamed("node", "nbr"), "nbr")
            .groupBy("node")
            .agg(F.count("*").alias("core_deg"))
            .filter(F.col("core_deg") >= k)
        )
        survivors = deg.localCheckpoint()
        n_next = survivors.count()
        alive = survivors.select("node")
        if n_next == n_alive:
            return survivors
        n_alive = n_next
        if n_alive == 0:
            break
    return edges.sparkSession.createDataFrame(
        [], "node string, core_deg long"
    ) if n_alive == 0 else survivors


def harmonic_centrality(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = BALL_MAX_ITER,
    lg_k: int = 14,
) -> DataFrame:
    """HyperBall harmonic centrality (Boldi & Vigna, 2013) —
    (node, harmonic, n_reachable): ``sum over reachable u != v of
    1 / d(v, u)``, the centrality that handles disconnected graphs
    (unreachable nodes contribute 0, no infinite-distance pathology).

    THE at-scale centrality algorithm: each node carries one mergeable
    HLL sketch of its distance-t ball; one iteration = merge every
    neighbor's ball (edge-keyed shuffle + node-keyed `hll_union_agg`)
    and credit the newly reached mass ``(est_t - est_{t-1}) / t``.
    Per-node state is a few KB REGARDLESS of reach — exact-neighborhood
    BFS state is O(reachable set) per node and dies on 10^12-node
    graphs, HyperBall's is O(2^lg_k). Balls localCheckpoint each round
    (the pagerank lineage discipline) and the loop stops early when a
    1-row delta agg hits zero (every ball closed).

    At test scale the Datasketches sparse representation keeps every
    estimate EXACT (lg_k=14 is exact well past these ball
    cardinalities), so the DuckDB all-pairs-BFS oracle value-matches;
    at 10^12 nodes the counts are approximate by design with ~0.8%
    relative error.
    """
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint()
    )
    state = (
        und.select(F.col("a").alias("node")).distinct()
        .groupBy("node")
        .agg(F.hll_sketch_agg("node", F.lit(lg_k)).alias("ball"))
        .withColumn("est", F.hll_sketch_estimate("ball"))
        .withColumn("harmonic", F.lit(0.0))
        .localCheckpoint()
    )
    for t in range(1, max_iter + 1):
        nbr = und.join(
            state.select(F.col("node").alias("b"), "ball"), "b"
        ).select(F.col("a").alias("node"), "ball")
        merged = (
            state.select("node", "ball").unionByName(nbr)
            .groupBy("node")
            .agg(F.hll_union_agg("ball").alias("_ball"))
        )
        nxt = (
            state.drop("ball")
            .join(merged, "node")
            .withColumn("_est", F.hll_sketch_estimate("_ball"))
            .select(
                "node",
                F.col("_ball").alias("ball"),
                F.col("_est").alias("est"),
                (
                    F.col("harmonic")
                    + (F.col("_est") - F.col("est")) / F.lit(float(t))
                ).alias("harmonic"),
                (F.col("_est") - F.col("est")).alias("_delta"),
            )
            .localCheckpoint()
        )
        state = nxt.drop("_delta")
        if (nxt.agg(F.sum("_delta")).collect()[0][0] or 0.0) == 0.0:
            break
    return state.select(
        "node",
        F.round("harmonic", 6).alias("harmonic"),
        F.col("est").cast("long").alias("n_reachable"),
    )


def neighborhood_function(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = BALL_MAX_ITER,
    lg_k: int = 14,
) -> DataFrame:
    """HyperANF neighborhood function (Boldi/Rosa/Vigna, 2011) —
    (t, reachable_pairs, frac, reached_90): for each hop count t, how
    many ordered pairs u != v sit within distance t, the fraction of
    the final reach, and the monotone 90%%-reached flag whose FIRST
    true row is the classic 90%% effective diameter.

    Same ball-sketch loop as ``harmonic_centrality`` (KB-sized state
    per node, one merge round per hop, early stop on a zero global
    delta); the per-round global total is already a 1-row aggregate,
    so the curve costs nothing beyond the convergence probe it shares.
    The curve itself is diameter-bounded (one row per hop), assembled
    driver-side like every convergence loop in this package.
    """
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint()
    )
    state = (
        und.select(F.col("a").alias("node")).distinct()
        .groupBy("node")
        .agg(F.hll_sketch_agg("node", F.lit(lg_k)).alias("ball"))
        .withColumn("est", F.hll_sketch_estimate("ball"))
        .localCheckpoint()
    )
    n_nodes = state.count()
    totals: list[tuple[int, float]] = []
    prev_total = float(n_nodes)
    for t in range(1, max_iter + 1):
        nbr = und.join(
            state.select(F.col("node").alias("b"), "ball"), "b"
        ).select(F.col("a").alias("node"), "ball")
        state = (
            state.select("node", "ball").unionByName(nbr)
            .groupBy("node")
            .agg(F.hll_union_agg("ball").alias("ball"))
            .withColumn("est", F.hll_sketch_estimate("ball"))
            .localCheckpoint()
        )
        total = state.agg(F.sum("est")).collect()[0][0]
        if total == prev_total:
            break
        totals.append((t, total - n_nodes))  # ordered pairs, self excluded
        prev_total = total
    final = totals[-1][1] if totals else 0.0
    # half-AWAY rounding (what Spark's and DuckDB's round() do; Python's
    # built-in rounds half-even and would diverge on exact halves)
    import math

    rows = [
        (t, int(p), math.floor(p / final * 1e6 + 0.5) / 1e6, p >= 0.9 * final)
        for t, p in totals
    ]
    return edges.sparkSession.createDataFrame(
        rows, "t int, reachable_pairs long, frac double, reached_90 boolean"
    )


def clustering_coefficient(
    edges: DataFrame, *, src: str = "src", dst: str = "dst",
) -> DataFrame:
    """Local clustering coefficient per node of the simple undirected
    graph: ``2 * T(v) / (deg(v) * (deg(v) - 1))`` for nodes of degree
    >= 2 (below that the ratio is undefined, and those nodes are
    omitted). The transitivity signal next to ``triangle_counts`` —
    the reference reads per-node clustering off its NetworkX lemma
    graph surface (SURVEY §2.9 graph analytics); here it is triangles
    (degree-ordered oriented count, wedge join bounded by m^1.5) plus
    one vocabulary-sized degree agg and one left join. No adjacency
    list is ever materialized, so the operator holds at web scale.

    Float discipline: triangles and degree are exact BIGINTs in both
    engines; the single division is formed identically on both sides
    and rounded to 6, so the DuckDB twin is bit-equal.

    Returns (node, deg, triangles, coeff), deg >= 2 only.
    """
    e = _normalized_edges(edges, src, dst).localCheckpoint()  # feeds deg + tri
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    tri = triangle_counts(e, src="a", dst="b")
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tri, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce(F.col("triangles"), F.lit(0).cast("long")).alias("triangles"),
            F.round(
                F.coalesce(F.col("triangles"), F.lit(0).cast("long")) * 2.0
                / (F.col("deg") * (F.col("deg") - F.lit(1))),
                6,
            ).alias("coeff"),
        )
    )


def degree_assortativity(
    edges: DataFrame, *, src: str = "src", dst: str = "dst",
) -> DataFrame:
    """Degree assortativity (Newman 2002): the Pearson correlation of
    endpoint degrees over both directed realizations of every
    undirected edge. One row out: (n_edges, assortativity) — positive
    on hub-to-hub graphs (social cores), negative on hub-to-leaf
    topologies (stars, web link farms); the single-number mixing
    diagnostic for the aggregated lemma graph.

    Cross-engine exactness: degrees are integers, so the five moments
    (Σx, Σy, Σxy, Σx², Σy²) are aggregated as EXACT BIGINT sums — no
    incremental co-moment recursion whose float associativity differs
    between engines — and the closed-form correlation is one identical
    double expression on both sides, rounded to 6. At 10^12 edges the
    BIGINT moments would saturate; there the same plan runs with the
    sums cast to double pre-agg (deterministic per-engine, documented
    trade).

    Shape: one degree agg, two keyed joins of the doubled edge list
    against it, one global 6-column agg (map-side partial) — three
    shuffles total, no skew surface (degree rows are vocabulary-sized).
    A regular graph (zero degree variance) yields NULL by definition.
    """
    e = _normalized_edges(edges, src, dst).localCheckpoint()  # feeds deg + pairs
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    doubled = e.select(F.col("a").alias("x"), F.col("b").alias("y")).unionAll(
        e.select(F.col("b").alias("x"), F.col("a").alias("y"))
    )
    j = doubled.join(
        deg.select(F.col("node").alias("x"), F.col("deg").alias("dx")), "x"
    ).join(deg.select(F.col("node").alias("y"), F.col("deg").alias("dy")), "y")
    m = j.agg(
        F.count("*").alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    nd, sx, sy = (F.col(c).cast("double") for c in ("n", "sx", "sy"))
    sxy, sxx, syy = (F.col(c).cast("double") for c in ("sxy", "sxx", "syy"))
    varx = nd * sxx - sx * sx
    vary = nd * syy - sy * sy
    return m.select(
        F.expr("n DIV 2").alias("n_edges"),
        F.when(
            (varx > 0) & (vary > 0),
            F.round((nd * sxy - sx * sy) / (F.sqrt(varx) * F.sqrt(vary)), 6),
        ).alias("assortativity"),
    )


def ktruss(
    edges: DataFrame, *, src: str = "src", dst: str = "dst",
    k: int = 4, max_iter: int = 50,
) -> DataFrame:
    """Edges of the k-truss: the maximal subgraph where every edge
    closes >= k-2 triangles WITHIN the subgraph — the edge-cohesion
    companion to ``kcore`` (a k-truss is always inside the (k-1)-core,
    but strictly stronger: it demands triangle evidence per EDGE, the
    signal community-detection and spam-farm analyses use when degree
    alone over-credits hub spokes).

    Distributed peel: each round enumerates triangles of the surviving
    edge set via the same degree-ordered orientation as
    ``triangle_counts`` (wedge join bounded by m^1.5), tallies per-edge
    support with one hash agg (each triangle credits its three edges),
    drops edges below k-2, and stops at the fixed point (1-row count
    probe, the pagerank/kcore convergence pattern). Peeling a converged
    truss recomputes identical supports, so extra rounds are no-ops and
    a fixed-depth oracle unrolling agrees with the converged result.

    Returns (a, b, support) with a < b, support >= k - 2.
    """
    e = _normalized_edges(edges, src, dst).localCheckpoint()
    n_alive = e.count()
    sup = None
    for _ in range(max_iter):
        tri = _oriented_triangles(e)
        # triangle corners are DEGREE-ordered (the orientation), not
        # lexicographic — re-normalize each credited edge to a < b or
        # the next round's keys (and the output contract) drift
        sup = (
            tri.select(F.col("u").alias("p"), F.col("y").alias("q"))
            .unionAll(tri.select(F.col("u").alias("p"), F.col("z").alias("q")))
            .unionAll(tri.select(F.col("y").alias("p"), F.col("z").alias("q")))
            .select(
                F.least("p", "q").alias("a"), F.greatest("p", "q").alias("b")
            )
            .groupBy("a", "b")
            .agg(F.count("*").alias("support"))
            .filter(F.col("support") >= k - 2)
            .localCheckpoint()
        )
        n_next = sup.count()
        e = sup.select("a", "b")
        if n_next == n_alive:
            return sup
        n_alive = n_next
        if n_alive == 0:
            break
    return edges.sparkSession.createDataFrame(
        [], "a string, b string, support long"
    ) if n_alive == 0 else sup


def modularity_by_community(
    edges: DataFrame,
    labels: DataFrame | None = None,
    *,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 5,
) -> DataFrame:
    """Newman modularity decomposed per community — (label, n_nodes,
    m_intra, d_sum, q_part) ordered by label, where
    ``q_part = m_intra/m - (d_sum/(2m))^2`` and ``sum(q_part) = Q``,
    the quality score of the partition (Newman & Girvan 2004, eq. 5).
    The per-community rows localize WHICH communities carry the
    structure — the actionable form for cluster QA, and a far stronger
    oracle surface than the single scalar.

    ``labels`` defaults to ``label_propagation(edges, max_iter)`` so the
    score audits the repo's own community operator; callers may pass any
    (node, label) frame (e.g. ER cluster assignments) to score it.

    Scale: the graph reduces to the distinct a<b edge set once; per-label
    degree sums and intra-edge counts are two map-side-combining hash
    aggs; the single scalar ``m`` rides a 1-row broadcast crossJoin (the
    repo's parameter-frame pattern). No window, no driver loop.
    """
    if labels is None:
        labels = label_propagation(edges, src=src, dst=dst, max_iter=max_iter)
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    m_df = e.agg(F.count("*").cast("long").alias("_m"))
    deg = (
        e.select(F.col("a").alias("node"))
        .union(e.select("b"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    la = labels.select(F.col("node").alias("a"), F.col("label").alias("_la"))
    lb = labels.select(F.col("node").alias("b"), F.col("label").alias("_lb"))
    intra = (
        e.join(la, "a").join(lb, "b")
        .filter(F.col("_la") == F.col("_lb"))
        .groupBy(F.col("_la").alias("label"))
        .agg(F.count("*").cast("long").alias("m_intra"))
    )
    per_label = (
        labels.join(deg, "node")
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("deg").cast("long").alias("d_sum"),
        )
        .join(intra, "label", "left")
        .na.fill({"m_intra": 0})
    )
    return (
        per_label.crossJoin(F.broadcast(m_df))
        .select(
            "label", "n_nodes", "m_intra", "d_sum",
            F.round(
                F.col("m_intra") / F.col("_m")
                - (F.col("d_sum") / (2.0 * F.col("_m"))) ** 2,
                6,
            ).alias("q_part"),
        )
        .orderBy("label")
    )
