"""Distributed connected components over an edge list.

The engine's dedup surface stops at near-dup PAIRS (dedup.py
minhash_lsh_pairs); real pipeline dedup needs CLUSTERS — the connected
components of the pair graph — so one representative per cluster can be
kept. This is the canonical iterative-DataFrame algorithm: min-label
propagation, one shuffle join per round, converging in O(graph
diameter) rounds.

100-TB shape: every round is (edges ⋈ labels) on the node key — an
equi-join shuffle both sides partitioned identically, so AQE reuses the
exchange — followed by a map-side-combined min aggregate. Lineage is
truncated each round with ``localCheckpoint`` (without it the plan tree
doubles per iteration and the driver's optimizer cost explodes —
standard practice for iterative Spark). Near-dup graphs have tiny
diameters (a dup cluster is nearly a clique), so 2-4 rounds suffice; for
adversarially long path graphs the round count is the diameter, and the
published fix is the large-star/small-star contraction (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14), which would
fit the same API (edge list in, labels out) if such inputs appear.
Driver actions: exactly one ``count()`` per round (the convergence
check), bounded by ``max_iter`` — the same bounded-driver-round-trip
pattern as knn_join's ring expansion (knn.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """→ (id, component): ``component`` = smallest vertex id reachable
    from ``id`` (a canonical, algorithm-independent labeling).

    ``edges``: undirected edge list in columns ``src``/``dst`` (each
    pair needs to appear once in either direction; duplicates are
    harmless — the min aggregate absorbs them). ``vertices``: optional
    (id) DataFrame adding isolated vertices (each becomes its own
    singleton component); without it only endpoint vertices appear.
    Raises ``RuntimeError`` if ``max_iter`` rounds pass without
    convergence (diameter > max_iter — raise it, or pre-contract).
    """
    # Materialize the symmetrized edge list ONCE: every round joins
    # against it, and without the checkpoint each round re-executes the
    # edge list's ENTIRE upstream pipeline (for near-dup clustering that
    # is the full tokenize→minhash→LSH-join→verify computation — measured
    # as a per-round repeat of the whole LSH cost before this fix).
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .where(F.col("a") != F.col("b"))
        .localCheckpoint(eager=False)
    )

    labels = sym.select(F.col("a").alias("id")).distinct()
    if vertices is not None:
        labels = labels.union(vertices.select(F.col(vertices.columns[0]).alias("id"))).distinct()
    labels = labels.select("id", F.col("id").alias("component")).localCheckpoint()
    prev = labels

    # free each round's superseded checkpoint (executor storage would
    # otherwise grow linearly with rounds)
    from ..util import release_checkpoint as _release

    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.b == labels.id)
            .groupBy("a")
            .agg(F.min("component").alias("_nbr"))
        )
        merged = (
            labels.join(nbr_min, labels.id == nbr_min.a, "left")
            .select(
                "id",
                "component",
                F.least("component", F.coalesce("_nbr", "component")).alias("_new"),
            )
            .localCheckpoint()
        )
        changed = merged.where(F.col("_new") < F.col("component")).count()
        _release(prev)
        prev = merged
        labels = merged.select("id", F.col("_new").alias("component"))
        if changed == 0:
            _release(sym)
            return labels
    raise RuntimeError(
        f"connected_components: no convergence in {max_iter} rounds "
        "(graph diameter exceeds max_iter)"
    )

