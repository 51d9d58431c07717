"""Transitive clustering: connected components over match-pair edges.

The reference stops at pair output; the record-linkage pipeline
(BASELINE.json north_star) additionally needs transitive clustering.
``connected_components`` first checkpoints the cleaned, distinct edge set
(cutting the upstream lineage once), then picks a path by its size:

* **small graphs** (at most ``LOCAL_EDGES`` edges, integral / string /
  binary ids): one bounded ``limit(LOCAL_EDGES + 1)`` fetch brings the edges
  to the driver, where min-label hooking plus pointer jumping labels them in
  vectorized numpy; the labels ship back as an Arrow LocalTableScan. At this
  size the per-round fixed cost of the distributed rounds (checkpoint job,
  signature job, ~4 exchanges of planning and scheduling) dwarfs the work.
* **large graphs** (or other id types): the alternating large-star /
  small-star algorithm (Kiveris et al., "Connected Components in MapReduce
  and Beyond", SoCC'14) expressed as DataFrame self-joins — the standard
  scalable CC formulation (GraphFrames uses the same scheme). Converges in
  O(log² n) rounds; every round is checkpointed to cut lineage so
  10^12-edge inputs don't build unbounded DAGs.

When the session has a checkpoint dir configured (``sc.setCheckpointDir`` —
the cluster deployment shape) checkpoints are RELIABLE ``checkpoint()``:
under ``localCheckpoint`` an executor loss destroys cached blocks and kills
the whole job, which at cluster scale over a multi-hour CC run is
near-certain. Without a checkpoint dir (local dev) it falls back to
``localCheckpoint``.

Cluster id = min(node id) per component (deterministic, data-derived — never
partition-order-dependent). Both paths return the same rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegralType,
    StringType,
    StructField,
    StructType,
)

#: Edge count up to which the graph is labelled on the driver. 200k edges
#: of 16-byte md5 ids (or ~60-byte urls) is a few MB to tens of MB of
#: driver memory; beyond it the star rounds' per-round cost is amortized.
LOCAL_EDGES = 200_000


def _checkpoint(df: DataFrame) -> DataFrame:
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint()
    return df.localCheckpoint()


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u, connect every strictly-larger neighbor to u's min
    neighbor (including u)."""
    nbrs = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = nbrs.groupBy("src").agg(F.min("dst").alias("m"))
    m = m.withColumn("m", F.least("src", "m"))
    # no trailing distinct: _small_star's first distinct (over the
    # greatest/least-normalized edges) immediately dedups this output —
    # keeping a distinct here would shuffle the same rows twice per round
    return (
        nbrs.join(m, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u, connect all ≤-neighbors to u's min neighbor."""
    dir_edges = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).distinct()
    m = dir_edges.groupBy("src").agg(F.min("dst").alias("m"))
    m = m.withColumn("m", F.least("src", "m"))
    joined = dir_edges.join(m, "src")
    out = joined.select(F.col("dst").alias("src"), F.col("m").alias("dst")).unionByName(
        joined.select(F.col("src"), F.col("m").alias("dst"))
    )
    return out.where(F.col("src") != F.col("dst")).distinct()


def _min_labels(u: np.ndarray, v: np.ndarray, n: int) -> np.ndarray:
    """Component label (smallest node code) of each of ``n`` nodes, given
    edge endpoint codes ``u``/``v``.

    Each pass hooks every root onto the smallest root across its edges,
    then pointer-jumps until every node points at a root. Labels only ever
    decrease and always name a node of the same component; at the fixpoint
    every edge joins two nodes with the same root, so the label is constant
    per component and equals its minimum code. Every root of an unfinished
    component either hooks or is hooked onto, so the number of roots at
    least halves per pass: O(log n) passes of O(|E|) numpy work.
    """
    label = np.arange(n)
    while True:
        lu, lv = label[u], label[v]
        if np.array_equal(lu, lv):
            return label
        np.minimum.at(label, lu, lv)
        np.minimum.at(label, lv, lu)
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped


def _label_locally(e: DataFrame) -> DataFrame | None:
    """Label a checkpointed, clean edge set on the driver, or return None
    when it has more than ``LOCAL_EDGES`` edges or ids whose Python order
    may differ from Spark's.

    Python orders ints numerically, ``bytes`` as unsigned bytes and ``str``
    by code point (which is UTF-8 byte order) — exactly Spark's ordering of
    integral, binary and UTF8_BINARY-collated string columns — so the
    factorized minimum is the id the star rounds would pick.
    """
    dtype = e.schema["src"].dataType
    if e.schema["dst"].dataType != dtype or not (
        isinstance(dtype, (IntegralType, BinaryType)) or dtype == StringType()
    ):
        return None
    pdf = e.limit(LOCAL_EDGES + 1).toPandas()
    n_edges = len(pdf)
    if n_edges > LOCAL_EDGES:
        return None
    if n_edges == 0:
        # createDataFrame skips Arrow for an empty frame and would build a
        # Python RDD; the empty checkpoint is a JVM-only scan
        return e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    codes, nodes = pd.factorize(
        np.concatenate([pdf["src"].to_numpy(), pdf["dst"].to_numpy()]), sort=True
    )
    label = _min_labels(codes[:n_edges], codes[n_edges:], len(nodes))
    schema = StructType(
        [StructField("node", dtype), StructField("component", dtype)]
    )
    return e.sparkSession.createDataFrame(
        pd.DataFrame({"node": nodes, "component": nodes[label]}), schema
    )


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 25,
) -> DataFrame:
    """edges(src, dst) -> DataFrame(node, component) for every node in edges.

    ``component`` is the minimum node id of the component. Isolated nodes
    (absent from edges) are the caller's to add — they are their own cluster.
    ``max_iterations`` caps the star rounds; the driver-side labelling of a
    small graph always runs to convergence.
    """
    e = _checkpoint(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    local = _label_locally(e)
    if local is not None:
        return local
    # lazy: derived from the CHECKPOINTED initial edge set, so the plan stays
    # valid after ``e`` is rebound below; only consumed once by the final
    # roots anti-join — materializing it eagerly was one extra driver
    # round-trip + shuffle per call for no reuse
    all_nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    def _signature(df: DataFrame):
        # one cheap agg job per round instead of two exceptAll scans; the
        # edge sets are duplicate-free, so (count, sum of 64-bit pair
        # hashes) equality pinpoints set equality up to a 2^-64 collision
        row = df.agg(
            F.count("*").alias("n"),
            # decimal sum: immune to int64 overflow under ANSI mode
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    sig = _signature(e)
    for _ in range(max_iterations):
        e2 = _checkpoint(_small_star(_large_star(e)))
        sig2 = _signature(e2)
        e = e2
        if sig2 == sig:
            break
        sig = sig2
    # after convergence every edge points node -> component-min
    comp = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    comp = comp.groupBy("node").agg(F.min("component").alias("component"))
    roots = all_nodes.join(comp, "node", "left_anti").select(
        F.col("node"), F.col("node").alias("component")
    )
    return comp.unionByName(roots)


def update_components(
    assignments: DataFrame,
    new_edges: DataFrame,
    node_col: str = "node",
    comp_col: str = "component",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Incrementally fold a DELTA of match edges into existing components.

    ``assignments(node, component)`` is a previous ``connected_components``
    output (component = min node id of the component); ``new_edges`` are
    newly discovered match pairs (e.g. from ``join_delta_pairs`` after a
    crawl increment). Returns the assignment table CC would produce over
    (old edges ∪ new edges), covering every previously-assigned node plus
    every endpoint of the delta — WITHOUT re-clustering the full graph.

    Algorithm: contract each existing component to its id (ids are min node
    ids, so min-of-mins stays the global min), run the large/small-star CC
    on the CONTRACTED delta graph only — its size is bounded by the delta,
    never by the corpus — then remap. The remap table is at most
    2·|delta| rows, so the final assignment update is a broadcast join over
    the (arbitrarily large) assignment table: the only full-table shuffle
    anywhere is the hash join tagging delta endpoints with their current
    component. At 10^12 nodes with a daily delta this is the difference
    between minutes and a full multi-hour re-cluster.

    Endpoints never seen before enter as their own contracted node (their
    id is their component), so new-node/new-cluster cases need no special
    path.
    """
    a = assignments.select(
        F.col(node_col).alias("_n"), F.col(comp_col).alias("_c")
    )
    # checkpointed once: the delta plan (typically a join + verify) feeds
    # both the contracted graph and the fresh-node set below
    e = _checkpoint(
        new_edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    # tag both endpoints with their current component (own id if unseen)
    tagged = (
        e.join(a.withColumnRenamed("_n", "src").withColumnRenamed("_c", "_cs"),
               "src", "left")
        .join(a.withColumnRenamed("_n", "dst").withColumnRenamed("_c", "_cd"),
              "dst", "left")
        .select(
            F.coalesce("_cs", "src").alias("src"),
            F.coalesce("_cd", "dst").alias("dst"),
        )
    )
    contracted = tagged.where(F.col("src") != F.col("dst"))
    # CC over the contracted graph: node ids here are component ids
    sub = connected_components(contracted, "src", "dst")
    remap = F.broadcast(
        sub.where(F.col("node") != F.col("component"))
        .select(F.col("node").alias("_old"), F.col("component").alias("_new"))
    )
    updated = (
        assignments.join(
            remap, assignments[comp_col] == remap["_old"], "left"
        )
        .select(
            F.col(node_col).alias("node"),
            F.coalesce("_new", comp_col).alias("component"),
        )
    )
    fresh = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(a, F.col("node") == F.col("_n"), "left_anti")
        .join(remap, F.col("node") == F.col("_old"), "left")
        .select("node", F.coalesce("_new", "node").alias("component"))
    )
    return updated.unionByName(fresh)
