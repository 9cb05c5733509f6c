"""Distributed PageRank over a directed edge table (Brin & Page 1998 —
public knowledge): the link-graph quality score a crawl-scale training-data
pipeline uses to weight sources (host/page authority) before mixing.

No reference counterpart; built Spark-first as iterative dataframe algebra,
the ``components.py`` loop discipline:

- Each power iteration is one (edges ⋈ ranks) shuffle join + a map-side-
  combined groupBy on the destination — the textbook contribution pass.
  Edge weights are precomputed once as 1/out-degree.
- Dangling mass (nodes with no out-edges) is a 1-row aggregate collected
  per iteration for loop control only — the repo convention: scalars steer
  the loop, data never leaves the cluster.
- ``localCheckpoint`` truncates lineage every iteration, keeping plan depth
  O(1) instead of O(n_iter).
- At 100 TB the state is two skinny tables — (node, rank) and (src, dst,
  weight) — both hash-partitioned on their join keys; pre-partitioning
  edges by ``src`` makes every iteration's join co-located so only the
  contribution aggregation shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    n_iter: int = 20,
    src: str = "src",
    dst: str = "dst",
    init: DataFrame | None = None,
    checkpoint_every: int = 3,
    snapshots: tuple[int, ...] | None = None,
) -> DataFrame | list[DataFrame]:
    """Rank every node of the directed graph ``edges``.

    Implements the dangling-aware formulation: r'(v) = (1−d)/N +
    d·(Σ_{u→v} r(u)/deg(u) + dangling_mass/N), which preserves total
    probability mass 1 exactly (up to float summation) every iteration.

    ``init`` warm-starts from a previous run's DataFrame[id, rank] —
    checkpoint/resume for long chains, and it lets a convergence probe
    run "one more iteration" without recomputing the chain.

    ``snapshots`` — a strictly increasing sequence of iteration counts
    (anything else raises ``ValueError``) — returns a
    LIST of rank frames (each localCheckpointed), one per requested count,
    computed on ONE chain: the graph setup (node set, degree weights,
    dangling check) runs once instead of once per probe call, and the
    per-step arithmetic is identical to separate warm-started calls, so
    ``pagerank(e, snapshots=(8, 9, 10))`` replaces the
    ``r0 = pagerank(e, 8); r1 = pagerank(e, 1, init=r0); …`` chain at a
    third of its job count (VERDICT r13 #4).  ``n_iter`` is ignored when
    ``snapshots`` is given.

    Returns DataFrame[id, rank] (one row per node appearing as src or dst).
    """
    snaps = [int(s) for s in snapshots] if snapshots is not None else None
    if snaps is not None:
        if not snaps or snaps[0] < 1:
            raise ValueError(f"snapshots must be positive iteration counts: {snapshots}")
        # one frame per entry: a duplicate would return fewer frames than
        # requested, and a reordered input would silently permute them
        if any(a >= b for a, b in zip(snaps, snaps[1:])):
            raise ValueError(f"snapshots must be strictly increasing: {snapshots}")
        n_iter = snaps[-1]
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # LAZY localCheckpoint: the count below materializes it — one job for
    # checkpoint + count instead of two (same fold as k_core's loop)
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    if n == 0:
        empty = nodes.withColumn("rank", F.lit(0.0))
        return [empty for _ in snaps] if snaps is not None else empty
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # lazy: materialized by the first action over the rank chain (the first
    # iteration's dangling-mass job or its eager rank checkpoint — the
    # dangling count below reads nodes/out_deg, not this frame), then
    # reused by every iteration
    weighted = (
        e.join(out_deg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("deg")).alias("w"))
        .localCheckpoint(eager=False)
    )
    has_out = out_deg.select(F.col("src").alias("id"))
    # one upfront check: a graph with no dangling nodes (e.g. every kNN
    # digraph) skips the per-iteration dangling-mass job entirely
    dangling_nodes = nodes.join(has_out, "id", "left_anti").localCheckpoint(
        eager=False
    )
    n_dangling = dangling_nodes.count()
    if init is not None:
        ranks = init.select("id", F.col("rank").cast("double"))
    else:
        ranks = nodes.select("id", F.lit(1.0 / n).alias("rank"))
    d = float(damping)
    out: list[DataFrame] = []
    for it in range(int(n_iter)):
        dangling = (
            ranks.join(dangling_nodes, "id", "left_semi")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .first()[0]
            if n_dangling
            else 0.0
        )
        contrib = (
            weighted.join(ranks.withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("m"))
            .withColumnRenamed("dst", "id")
        )
        ranks = (
            nodes.join(contrib, "id", "left")
            .select(
                "id",
                (
                    F.lit((1.0 - d) / n)
                    + F.lit(d)
                    * (F.coalesce(F.col("m"), F.lit(0.0)) + F.lit(dangling / n))
                ).alias("rank"),
            )
        )
        # lineage grows one join per iteration; an eager localCheckpoint
        # every few rounds bounds plan depth without paying a
        # materialization per step; snapshot points always checkpoint so
        # the returned frames are immutable and re-read, never re-derived
        is_snap = snaps is not None and (it + 1) in snaps
        if (
            (it + 1) % max(1, int(checkpoint_every)) == 0
            or it == n_iter - 1
            or is_snap
        ):
            ranks = ranks.localCheckpoint()
        if is_snap:
            out.append(ranks)
    return out if snaps is not None else ranks


def pagerank_py(
    edges: list[tuple[int, int]], damping: float = 0.85, n_iter: int = 20
) -> dict[int, float]:
    """Sequential pure-Python reference of ``pagerank`` (test oracle) —
    identical formulation, including dangling-mass redistribution."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    if n == 0:
        return {}
    out: dict[int, list[int]] = {}
    for u, v in edges:
        out.setdefault(u, []).append(v)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        dangling = sum(r[v] for v in nodes if v not in out)
        m = {v: 0.0 for v in nodes}
        for u, targets in out.items():
            share = r[u] / len(targets)
            for v in targets:
                m[v] += share
        r = {
            v: (1.0 - damping) / n + damping * (m[v] + dangling / n)
            for v in nodes
        }
    return r
