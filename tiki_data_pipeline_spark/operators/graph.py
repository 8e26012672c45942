"""Connected components over a pair graph — the correct cluster
semantics for near-duplicate resolution (a pair list is a graph; a
dup GROUP is its connected component).

Label propagation over a per-node state ``(node, nbrs, component)``
built by ONE aggregation over both edge directions. Each round is one
message shuffle plus a pointer jump, cut with an eager
``localCheckpoint``; the number of labels the round changed is an
``Observation`` on that same checkpoint action, so convergence costs
no extra Spark job. Bounded rounds (diameter of dup clusters is small
in practice; cap documented). No GraphX/graphframes needed — pure
DataFrame joins, which also means AQE handles the skew when one giant
cluster dominates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

MAX_ITERATIONS = 15


def connected_components(
    pairs: DataFrame, i_col: str = "i", j_col: str = "j", max_iter: int = MAX_ITERATIONS
) -> DataFrame:
    """(node, component) with component = min node id reachable.

    The state build already runs the first propagation step:
    ``component = least(node, array_min(nbrs))``. Each round then
    (1) sends every node's label to its neighbours
    (``explode(nbrs)`` → ``groupBy(node).min``, one shuffle), (2) lets
    each node take the least label it received and replaces that label
    by ITS label (pointer jump, path halving), and (3) checkpoints the
    new state. The jump makes label distances collapse geometrically,
    so convergence is O(log diameter) rounds rather than O(diameter) —
    a 200-node chain converges in 8. A round that changes no label is
    the fixpoint: every edge then carries equal labels, and the
    component's min node keeps its own id.

    Raises ``RuntimeError`` if the fixpoint isn't reached within
    ``max_iter`` rounds — a silently-unconverged component labeling
    would split dup clusters and is never acceptable.
    """
    both = pairs.select(
        F.col(i_col).alias("node"), F.col(j_col).alias("nbr")
    ).unionByName(pairs.select(F.col(j_col).alias("node"), F.col(i_col).alias("nbr")))
    state = (
        both.groupBy("node")
        .agg(F.collect_set("nbr").alias("nbrs"))
        # a NULL id joins nothing, so it keeps a NULL label
        .withColumn(
            "component",
            F.when(
                F.col("node").isNotNull(),
                F.least(F.col("node"), F.array_min("nbrs")),
            ),
        )
        .localCheckpoint()
    )
    for _ in range(max_iter):
        received = (
            state.select(F.explode("nbrs").alias("node"), "component")
            .groupBy("node")
            .agg(F.min("component").alias("_received"))
        )
        # least() skips NULLs: a node that received nothing keeps its label
        hop = state.join(received, "node", "left").withColumn(
            "_hop", F.least("component", "_received")
        )
        # Pointer jump: a label is a node id, so take that node's
        # label too; it is what turns O(diameter) propagation into
        # O(log diameter).
        roots = hop.select(F.col("node").alias("_hop"), F.col("_hop").alias("_root"))
        changed = Observation()
        n_changed = F.count(F.when(F.col("_new") != F.col("component"), 1))
        state = (
            hop.join(roots, "_hop", "left")
            .select("node", "nbrs", F.least("_hop", "_root").alias("_new"), "component")
            .observe(changed, n_changed.alias("n"))
            .select("node", "nbrs", F.col("_new").alias("component"))
            .localCheckpoint()
        )
        if changed.get["n"] == 0:
            return state.select("node", "component")
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations"
    )


def dedup_survivors(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Cluster-correct dedup: group docs by connected component of the
    near-dup graph, keep the min id per component; singletons (no
    pairs) survive unchanged. Adds ``survivor`` boolean."""
    comps = connected_components(pairs)
    joined = docs.join(comps, docs[id_col] == comps.node, "left")
    # at the fixpoint a node's component label IS the minimum id of
    # its component, so the survivor test is a direct comparison — no
    # per-component min aggregation or second join needed
    return joined.withColumn(
        "survivor", F.col("node").isNull() | (F.col(id_col) == F.col("component"))
    ).drop("node", "component")
