"""Connected components over candidate pairs (replaces reference C2).

The reference grows similarity groups greedily around a seed file
(/root/reference/src/media_dedup.rs:631-671) — order-dependent and
sequential. north_rule mandates the scalable substitute: alternating
large-star / small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond") as an iterative DataFrame job:

- large-star(u): m = min(Γ(u) ∪ {u}); link every *larger* neighbor to m.
- small-star(u): over edges oriented high→low, m = min(Γ<(u) ∪ {u});
  link u and all smaller neighbors to m.

Both are groupBy+join rounds; the edge set converges to stars rooted at
each component's minimum id in O(log n) rounds.

Driver-loop economy (the Amdahl serial term the scaling bench charges
per round): each iteration issues exactly ONE Spark action — the
lineage cut is lazy (``eager=False``) and is materialized by the
convergence-checksum job itself, so checkpointing and convergence
detection share a single driver round-trip. The checksum is an
order-insensitive (count, xor-of-edge-hashes) pair — star transforms
permute rows freely across partitions without breaking it. Durability
of the per-iteration cut follows ``config.checkpoint_mode``
(localCheckpoint for single-host speed, reliable checkpoint files for
executor-loss resumability — north_rule "resumable from checkpoint").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dedup_spark.config import DedupConfig


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def _large_star(edges: DataFrame) -> DataFrame:
    nbrs = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    # orient high -> low
    e = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    linked_nbrs = (
        e.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    linked_self = mins.select(F.col("u"), F.col("m").alias("v"))
    return (
        linked_nbrs.union(linked_self)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _union_find_cc(edges: DataFrame) -> DataFrame:
    """Single-task union-find over a SMALL edge set (executor-side, one
    partition — not a driver collect). Labels = component minimum by
    union-by-min, so output is bit-identical to the star loop's.

    Why it exists: each star round costs one driver round-trip + one
    shuffle of a tiny frame — pure Amdahl serial time that the N→4N
    efficiency criterion charges at BOTH cluster sizes. Below the
    threshold (see ``connected_components``), one task finishing in
    O(E α(E)) replaces ~5 rounds of cluster-wide latency; above it,
    the log-round star loop is the only thing that scales.
    """
    from collections.abc import Iterator

    import pandas as pd

    def uf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        nodes: set[int] = set()
        for pdf in batches:
            for u, v in zip(pdf["u"], pdf["v"]):
                u, v = int(u), int(v)
                nodes.add(u)
                nodes.add(v)
                ru, rv = find(u), find(v)
                if ru == rv:
                    continue
                if rv < ru:
                    ru, rv = rv, ru
                parent[rv] = ru  # union by min → root IS the component min
        if nodes:
            yield pd.DataFrame(
                {"node": sorted(nodes), "cluster_id": [find(n) for n in sorted(nodes)]}
            )

    return edges.coalesce(1).mapInPandas(uf, "node long, cluster_id long")


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    config: DedupConfig | None = None,
) -> DataFrame:
    """(node, cluster_id) for every node appearing in ``pairs``; the
    cluster id is the component's minimum node id (deterministic labels,
    SURVEY §7.3).

    Two physical strategies behind one contract:
    - edge count ≤ ``config.cc_smallgraph_threshold`` → single-task
      union-find (``_union_find_cc``) — zero iteration rounds;
    - larger → alternating large/small-star rounds (scales to graphs
      no single task can hold). The count needed for the decision
      comes from the convergence checksum's first job — no extra
      action. The loop runs at most ``config.cc_max_iterations`` rounds
      and raises RuntimeError when the edge set is still changing
      after the last one — labels are never returned unconverged.
    """
    from dedup_spark.checkpoint import lineage_cut

    cfg = config or DedupConfig()
    edges = lineage_cut(
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        cfg,
        eager=False,
    )
    prev = _checksum(edges)  # materializes the cut in the same job
    if prev[0] <= cfg.cc_smallgraph_threshold:
        return _union_find_cc(edges)
    for _ in range(cfg.cc_max_iterations):
        edges = lineage_cut(_small_star(_large_star(edges)), cfg, eager=False)
        cur = _checksum(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected components did not converge in "
            f"cc_max_iterations={cfg.cc_max_iterations} star rounds"
        )
    # converged star edges: u -> root(v). Roots map to themselves.
    members = edges.select(F.col("u").alias("node"), F.col("v").alias("cluster_id"))
    roots = edges.select(F.col("v").alias("node"), F.col("v").alias("cluster_id")).distinct()
    return members.union(roots).groupBy("node").agg(F.min("cluster_id").alias("cluster_id"))


def attach_labels(members: DataFrame, comp: DataFrame, by=()) -> DataFrame:
    """Exact ∪ fuzzy labels: every row of ``members`` (carrying
    ``exact_rep``, see ``exact.with_exact_rep``) takes the component
    label of its representative, or the representative itself when it
    is in no component (singleton or exact-only cluster); then
    ``cluster_size`` over ``(*by, cluster_id)``.

    ``comp`` is ``connected_components``' (node, cluster_id) output,
    passed in rather than computed here so each caller keeps its own
    call site. It scales with the near-dup population (corpus-order on
    a dup-heavy corpus), so the join is pinned to sort-merge: a small
    size misestimate must never broadcast it (see
    ``verify.attach_pair_signatures``)."""
    comp = comp.withColumnsRenamed({"node": "exact_rep", "cluster_id": "_label"})
    out = (
        members.join(comp.hint("merge"), "exact_rep", "left")
        .withColumn("cluster_id", F.coalesce("_label", "exact_rep"))
        .drop("_label")
    )
    return out.withColumn(
        "cluster_size", F.count(F.lit(1)).over(Window.partitionBy(*by, "cluster_id"))
    )
