"""Transitive clustering: connected components via large-star/small-star.

The reference implies transitive closure over equivalence edges — mentions
linking to the same IRI node collapse (reference: textgraphs/kg.py:1021-1035)
and ``owl:sameAs`` edges join DBPedia/Wikidata IRIs (kg.py:1127-1134), with
the IRI discipline explicitly motivated by "transitive closure, semantic
inference" (elem.py:12-14). At corpus scale that closure is the
alternating large-star/small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) on an edge DataFrame:

* large-star: for every node, hook every *larger* neighbor to the minimum
  of the neighborhood (including self);
* small-star: hook every smaller-or-equal neighbor to the minimum.

Both are a single groupBy per round; the edge set converges to a star
forest in O(log n) rounds. Rounds localCheckpoint to truncate lineage —
without this the plan doubles every iteration and the driver dies long
before the data does.

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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

# second-seed salt for the low word of the 128-bit id: xxhash64(k, _SALT)
# is an independent draw from xxhash64(k) (different input tuple)
_ID_SALT = 0x9E3779B9


def key_id128(key: Column | str) -> Column:
    """128-bit node id for a string key: struct(hi, lo) of two
    independent xxhash64 draws. Struct comparison is lexicographic on
    (hi, lo), so ids are totally ordered as the star rounds require."""
    k = F.col(key) if isinstance(key, str) else key
    return F.struct(
        F.xxhash64(k).alias("hi"),
        F.xxhash64(k, F.lit(_ID_SALT)).alias("lo"),
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


def _driver_union_find(spark, e: DataFrame) -> DataFrame:
    """Small-graph fast path: one collect + union-find on the driver.

    Size-adaptive execution: below the threshold the edge set fits the
    driver trivially and the O(log n) distributed rounds would cost more
    in stage latency than the entire computation. Same contract as the
    distributed path (component = min node id). Handles long ids and
    struct-of-long ids (arriving as dicts under Arrow, Row objects
    without; both compared as tuples — Python tuple order == Spark
    struct order for long fields).
    """
    id_type = e.schema["src"].dataType
    is_struct = isinstance(id_type, T.StructType)
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in e.toPandas().itertuples(index=False):
        if is_struct:
            # Arrow-enabled sessions deliver struct cells as dicts;
            # default (non-Arrow) sessions deliver pyspark Row objects,
            # which have no .values() but iterate their field values in
            # schema order — both shapes reduce to the same ordered tuple
            a = tuple(a.values()) if isinstance(a, dict) else tuple(a)
            b = tuple(b.values()) if isinstance(b, dict) else tuple(b)
        else:
            a, b = int(a), int(b)
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    import pandas as pd

    if is_struct:
        fields = [f.name for f in id_type.fields]
        as_dict = lambda t: dict(zip(fields, t))  # noqa: E731
        pdf = pd.DataFrame({
            "node": [as_dict(n) for n in parent],
            "component": [as_dict(find(n)) for n in parent],
        })
        out_schema = T.StructType([
            T.StructField("node", id_type), T.StructField("component", id_type),
        ])
    else:
        pdf = pd.DataFrame(
            {"node": list(parent.keys()), "component": [find(n) for n in parent]},
            dtype="int64",
        )
        out_schema = "node long, component long"
    # Arrow-backed createDataFrame — py4j row serialization is 100x slower;
    # explicit schema so an empty edge set doesn't break inference
    return spark.createDataFrame(pdf, schema=out_schema)


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
    with component = min node id of the component. Driver loop with
    convergence check on the edge-set hash (cheap: one agg per round);
    edge sets below ``small_graph_threshold`` short-circuit to a
    driver-side union-find.

    Pass ``stats`` (an empty dict) to receive execution evidence:
    ``path`` ("union_find" | "stars"), ``edges`` (distinct input edge
    count), and for the distributed path ``rounds`` (star rounds until
    the edge-set fixpoint) — the measurable proof that the star rounds,
    not the driver fast path, produced a given clustering."""
    id_type = edges.schema[src].dataType
    if isinstance(id_type, T.StructType):
        # struct ids (e.g. key_id128) pass through untouched: Spark
        # orders structs field-by-field, which is all the rounds need
        src_c, dst_c = F.col(src).alias("src"), F.col(dst).alias("dst")
    elif isinstance(id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        src_c = F.col(src).cast("long").alias("src")
        dst_c = F.col(dst).cast("long").alias("dst")
    else:
        # fail at plan time with a pointer, not at execution with an
        # ANSI cast error from deep inside the first star round
        raise TypeError(
            f"connected_components needs integral or struct node ids; got "
            f"{id_type.simpleString()} — for string keys use "
            "components_over_keys (hashes keys to collision-safe 128-bit ids)"
        )
    e = (
        edges.select(src_c, dst_c)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    n_edges = e.count()
    if stats is not None:
        stats["edges"] = n_edges
    if small_graph_threshold and n_edges <= small_graph_threshold:
        if stats is not None:
            stats["path"] = "union_find"
        return _driver_union_find(e.sparkSession, e)
    if stats is not None:
        stats["path"] = "stars"
    prev_sig = None
    converged = False
    rounds = 0
    for _ in range(max_iterations):
        e = _small_star(_large_star(e)).localCheckpoint()
        rounds += 1
        sig_row = e.agg(
            F.count("*").alias("n"),
            F.sum(F.hash("src", "dst").cast("long")).alias("h"),
        ).collect()[0]
        sig = (sig_row["n"], sig_row["h"])
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        # the star-forest extraction below is only valid at the fixpoint;
        # returning anyway could silently assign one node to two components
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations — raise max_iterations (rounds needed is "
            "O(log n) in the largest component)"
        )
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
