"""Transitive clustering: connected components via local contraction and
large-star/small-star.

The reference implies transitive closure over equivalence edges — mentions
linking to the same IRI node collapse (reference: textgraphs/kg.py:1021-1035)
and ``owl:sameAs`` edges join DBPedia/Wikidata IRIs (kg.py:1127-1134), with
the IRI discipline explicitly motivated by "transitive closure, semantic
inference" (elem.py:12-14). At corpus scale that closure runs on an edge
DataFrame in passes, each one localCheckpointed to truncate lineage —
without this the plan doubles every pass and the driver dies long before
the data does:

* contraction (Łącki et al., "Connected Components at Scale via Local
  Contractions", 2018): one narrow pass runs a numpy union-find over each
  edge partition and replaces it with ``(node, local min)`` edges. A
  partition that holds whole components leaves them as finished stars,
  with no shuffle and no global round;
* star rounds (Kiveris et al., "Connected Components in MapReduce and
  Beyond", SoCC'14), alternating large-star (hook every *larger* neighbor
  to the minimum of the neighborhood, self included) and small-star (hook
  every smaller-or-equal neighbor to the minimum). Each is a groupBy; the
  edge set converges to a star forest in O(log n) rounds.

The rounds run only while the edge set is not a star forest, tested with
one aggregate per pass: no node has two parents and no parent is itself a
child. Every pass emits ``src > dst``, so each star's center is the
minimum of its component, and a star forest is the answer.

Node ids must be ORDERABLE — plain longs or a struct of longs (Spark
structs compare field-by-field, so every min/least/greatest/filter in the
star rounds works unchanged). Callers hash stable string keys into a
**128-bit two-long struct** (``key_id128``): a single 64-bit hash is NOT
enough at the stated target scale — the corpus-wide birthday bound at
10^9 distinct keys is ~1/37 (n²/2^65), i.e. a real chance of silently
merging two unrelated clusters, and at the 10^10-10^11 distinct surface
forms implied by 10^12 docs a collision is near-certain. Two independent
64-bit hashes push the corpus-wide bound to n²/2^129 (~10^-17 at 10^11
keys). A (key, id) sidecar joins the labels back.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

# second-seed salt for the low word of the 128-bit id: xxhash64(k, _SALT)
# is an independent draw from xxhash64(k) (different input tuple)
_ID_SALT = 0x9E3779B9

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def key_id128(key: Column | str) -> Column:
    """128-bit node id for a string key: struct(hi, lo) of two
    independent xxhash64 draws. Struct comparison is lexicographic on
    (hi, lo), so ids are totally ordered as the star rounds require."""
    k = F.col(key) if isinstance(key, str) else key
    return F.struct(
        F.xxhash64(k).alias("hi"),
        F.xxhash64(k, F.lit(_ID_SALT)).alias("lo"),
    )


def _min_member(edges: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Union-find over an (n, 2k) int64 array of edges: k src id words,
    then k dst id words.

    Returns ``(ids, root)``: the distinct ids as an (m, k) array in Spark's
    order (``np.unique`` sorts rows lexicographically on signed words, as
    Spark orders a struct of longs), and ``root[i]``, the row of the
    minimum id in row i's component. Codes inherit the id order, so
    hooking every root onto its smallest neighboring root keeps
    ``root[i] <= i`` (no cycles). Pointer jumping then flattens the trees,
    and each hooking round at least removes every root with a smaller
    neighbor.
    """
    k = edges.shape[1] // 2
    ids, codes = np.unique(edges.reshape(-1, k), axis=0, return_inverse=True)
    u, v = codes.reshape(-1, 2).T
    root = np.arange(len(ids))
    while True:
        ru, rv = root[u], root[v]
        cross = ru != rv
        if not cross.any():
            return ids, root
        u, v, ru, rv = u[cross], v[cross], ru[cross], rv[cross]
        np.minimum.at(root, np.maximum(ru, rv), np.minimum(ru, rv))
        while True:
            jumped = root[root]
            if np.array_equal(jumped, root):
                break
            root = jumped


def _id_words(id_type: T.DataType, col: str) -> list[Column]:
    """An id column as long columns ``{col}_0, {col}_1, ...``: the id
    itself for an integral id, one column per field for a struct id."""
    if isinstance(id_type, T.StructType):
        return [
            F.col(col)[f.name].cast("long").alias(f"{col}_{i}")
            for i, f in enumerate(id_type.fields)
        ]
    return [F.col(col).alias(f"{col}_0")]


def _id_column(id_type: T.DataType, col: str) -> Column:
    """Inverse of ``_id_words``: rebuild ``col`` from its long columns."""
    if isinstance(id_type, T.StructType):
        return F.struct(*[
            F.col(f"{col}_{i}").cast(f.dataType).alias(f.name)
            for i, f in enumerate(id_type.fields)
        ]).alias(col)
    return F.col(f"{col}_0").alias(col)


def _contract_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: one partition's flattened edges (src words, then
    dst words) → ``(node, min member)`` for every node that is not the
    minimum of its local component."""
    frames = list(batches)
    if not frames:
        return
    pdf = pd.concat(frames, ignore_index=True)
    ids, root = _min_member(pdf.to_numpy(dtype=np.int64))
    child = np.flatnonzero(root != np.arange(len(ids)))
    yield pd.DataFrame(
        np.concatenate([ids[child], ids[root[child]]], axis=1), columns=pdf.columns
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Emit (v, m) for each neighbor v > u, where m = min(N(u) ∪ {u}).

    Formulated as min-aggregation + join rather than collect_set: a hub
    node with 10^8 neighbors must never materialize its neighborhood as
    one array in one task — the scalar agg + re-join keeps every row
    bounded and lets partial aggregation absorb the skew.
    """
    nbrs = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = nbrs.groupBy("src").agg(F.least(F.min("dst"), F.first("src")).alias("m"))
    return (
        nbrs.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient (big, small); hook small neighbors + self to the minimum."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))  # m < src always
    hooked = oriented.join(mins, "src").select(
        F.col("dst").alias("v"), F.col("m")
    ).union(mins.select(F.col("src").alias("v"), F.col("m")))
    return (
        hooked.filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _is_star_forest(edges: DataFrame) -> bool:
    """True when no node has two parents and no parent is itself a child.

    One aggregate over (child, parent) and (parent, null) rows per node:
    exact, where a hash signature of the edge set could collide.
    """
    none = F.lit(None).cast(edges.schema["dst"].dataType)
    rows = edges.select(F.col("src").alias("v"), F.col("dst").alias("p")).union(
        edges.select(F.col("dst").alias("v"), none.alias("p"))
    )
    parents = F.count("p")
    not_star = (F.min("p") != F.max("p")) | ((parents > 0) & (parents < F.count("*")))
    per_node = rows.groupBy("v").agg(F.coalesce(not_star, F.lit(False)).alias("bad"))
    return not per_node.agg(F.max("bad")).first()[0]


def _driver_union_find(e: DataFrame, id_type: T.DataType) -> DataFrame:
    """Small-graph fast path: one collect + ``_min_member`` on the driver.

    Size-adaptive execution: below the threshold the edge set fits the
    driver trivially and the distributed passes would cost more in stage
    latency than the entire computation. Same contract as the distributed
    path (component = min node id). Ids cross ``toPandas`` as long
    columns, which arrive as int64 with Arrow on or off.
    """
    flat = e.select(*_id_words(id_type, "src"), *_id_words(id_type, "dst"))
    ids, root = _min_member(flat.toPandas().to_numpy(dtype=np.int64))
    k = ids.shape[1]
    names = [f"node_{i}" for i in range(k)] + [f"component_{i}" for i in range(k)]
    pdf = pd.DataFrame(np.concatenate([ids, ids[root]], axis=1), columns=names)
    # Arrow-backed createDataFrame — py4j row serialization is 100x slower;
    # explicit schema so an empty edge set doesn't break inference
    schema = ", ".join(f"{c} long" for c in names)
    return e.sparkSession.createDataFrame(pdf, schema=schema).select(
        _id_column(id_type, "node"), _id_column(id_type, "component")
    )


def connected_components(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
    small_graph_threshold: int = 500_000,
    stats: dict | None = None,
) -> DataFrame:
    """edges(src, dst) [long or struct-of-long ids] → (node, component)
    with component = min node id of the component.

    Edge sets of at most ``small_graph_threshold`` distinct edges run as
    one union-find on the driver. Larger ones (or all, with 0) take the
    distributed path: a contraction pass runs the same union-find inside
    each edge partition, then large-star/small-star rounds run while the
    edge set is not a star forest (one aggregate per pass decides).

    Pass ``stats`` (a dict) to receive execution evidence; each call
    overwrites ``path`` ("union_find" | "stars"), ``edges`` (distinct
    input edge count) and ``rounds``: passes over the edge set on the
    distributed path, the contraction pass included, and 0 on the
    union-find path — the measurable proof that the distributed path, not
    the driver fast path, produced a given clustering."""
    id_type = edges.schema[src].dataType
    if isinstance(id_type, _INTEGRAL):
        src_c = F.col(src).cast("long").alias("src")
        dst_c = F.col(dst).cast("long").alias("dst")
        id_type = T.LongType()
    elif isinstance(id_type, T.StructType) and all(
        isinstance(f.dataType, _INTEGRAL) for f in id_type.fields
    ):
        # struct ids (e.g. key_id128) pass through untouched: Spark
        # orders structs field-by-field, which is all the passes need
        src_c, dst_c = F.col(src).alias("src"), F.col(dst).alias("dst")
    else:
        # fail at plan time with a pointer, not at execution with an
        # ANSI cast error from deep inside the first pass
        raise TypeError(
            f"connected_components needs integral or struct-of-integral node "
            f"ids; got {id_type.simpleString()} — for string keys use "
            "components_over_keys (hashes keys to collision-safe 128-bit ids)"
        )
    e = (
        edges.select(src_c, dst_c)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    n_edges = e.count()
    if small_graph_threshold and n_edges <= small_graph_threshold:
        if stats is not None:
            stats.update(path="union_find", edges=n_edges, rounds=0)
        return _driver_union_find(e, id_type)
    flat = e.select(*_id_words(id_type, "src"), *_id_words(id_type, "dst"))
    # narrow: each partition contracts in place, no shuffle
    e = (
        flat.mapInPandas(_contract_partition, schema=flat.schema)
        .select(_id_column(id_type, "src"), _id_column(id_type, "dst"))
        .localCheckpoint()
    )
    rounds = 1
    while not _is_star_forest(e):
        if rounds > max_iterations:
            # the extraction below is only valid on a star forest;
            # returning anyway could silently assign one node to two
            # components
            raise RuntimeError(
                f"connected_components did not converge in {max_iterations} "
                "star rounds — raise max_iterations (rounds needed is "
                "O(log n) in the largest component)"
            )
        e = _small_star(_large_star(e)).localCheckpoint()
        rounds += 1
    if stats is not None:
        stats.update(path="stars", edges=n_edges, rounds=rounds)
    # star forest: every remaining edge is (member, root)
    roots = e.select(F.col("dst").alias("node"), F.col("dst").alias("component")).distinct()
    members = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    return members.union(roots).distinct()


def components_over_keys(
    match_edges: DataFrame,
    *,
    left: str = "left_id",
    right: str = "right_id",
    small_graph_threshold: int = 500_000,
    stats: dict | None = None,
) -> DataFrame:
    """String-keyed convenience wrapper: hash keys → run CC → join back.

    Returns (entity_key, cluster_id) where cluster_id is the MIN MEMBER
    KEY (string) of the component — stable across runs, engine-agnostic
    (an ANSI-SQL oracle reproduces it; a hash-based id could not be),
    and self-describing in exports. The CC iterations run on 128-bit
    ``key_id128`` struct ids — two unrelated clusters cannot silently
    merge on a 64-bit birthday collision at 10^10+ distinct keys; only
    the final label is the min key, via one min-over-component window
    (one shuffle of the assignment rows).
    """
    ids = (
        match_edges.select(F.col(left).alias("k"))
        .union(match_edges.select(F.col(right).alias("k")))
        .distinct()
        .withColumn("id", key_id128("k"))
    )
    e = match_edges.select(
        key_id128(left).alias("src"), key_id128(right).alias("dst")
    )
    cc = connected_components(
        e, small_graph_threshold=small_graph_threshold, stats=stats
    )
    # min over a comp window: one shuffle, where groupBy + join-back
    # shuffles the assignment rows twice
    return (
        ids.join(cc, ids["id"] == cc["node"], "left")
        .select("k", F.coalesce("component", "id").alias("comp"))
        .select(
            F.col("k").alias("entity_key"),
            F.min("k").over(Window.partitionBy("comp")).alias("cluster_id"),
        )
    )
