"""Connected components via alternating large-star / small-star rounds.

The dedup cluster resolver (registry/dedup.py::dedup_clusters) runs on
this. Min-label propagation needs O(diameter) rounds of full label joins,
which is wrong for the 10^12-row design point, where an adversarial
near-dup CHAIN (doc_1 ~ doc_2 ~ ... ~ doc_k, consecutive pairs sharing
buckets but not transitively) makes the diameter unbounded; it was also
2.4x slower on the same LSH edges (ARCHITECTURE §7d). Large-star/small-star
(Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected
Components in MapReduce and Beyond", SoCC'14) converges in O(log^2 n)
rounds on ANY graph, every round a pair of uniform-key shuffles
(groupBy node), never a driver-side structure:

  large-star: every node's strictly-LARGER neighbors re-attach to the
              minimum of its closed neighborhood;
  small-star: every node's smaller-or-equal neighbors (canonical edge
              orientation) re-attach to that minimum.

Both keep the component partition invariant (each emitted edge connects
two nodes already connected through the pivot node) and strictly shrink
the potential function (sum of neighbor distances-from-min), so the edge
set reaches a fixed point: a star forest rooted at each component's
minimum node. The fixed point is detected by an order-insensitive edge
checksum (count + hash sum) going stable.

Reference analog: the worker pool claiming frame indices atomically with
no coordinator (/root/reference/ssimulacra2_bin/src/video.rs:159-168) —
coordination through a shared monotone value, not a central graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canon(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (u, v) with u > v, no self-loops."""
    return (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(canon: DataFrame) -> DataFrame:
    """One large-star round over a canonical edge set.

    Neighborhoods are taken over BOTH directions (sym view); for each
    pivot u the strictly-larger neighbors attach to
    m = min(closed neighborhood). Emitted edges stay canonical (u > v,
    no self-loops) but may carry DUPLICATES: MIN is duplicate-
    insensitive, so the dedup is deferred to the one distinct at the end
    of the paired small-star round (guide §2.4 — one exchange per round
    instead of two; the per-round edge SET is unchanged, so round counts
    and the fixed point are identical)."""
    sym = canon.unionByName(canon.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.min("v").alias("mv"))
    m = m.select("u", F.least("u", "mv").alias("m"))
    out = (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))  # strictly larger neighbors move
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    # pivots must stay attached to their min so components never split.
    # out: v > u >= m, so (v, m) is canonical; keep: u != m with m < u.
    keep = m.filter(F.col("u") != F.col("m")).select("u", F.col("m").alias("v"))
    return out.unionByName(keep)


def _small_star(canon_dups: DataFrame) -> DataFrame:
    """One small-star round: per pivot u (canonical: all neighbors v < u),
    every smaller neighbor AND u itself attach to the min neighbor.

    Input may carry duplicate edges (see _large_star); min() ignores
    them and the single _canon here dedups the round's output."""
    m = canon_dups.groupBy("u").agg(F.min("v").alias("m"))  # v < u, so m < u
    j = canon_dups.join(m, "u")
    nbrs = j.select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_edge = m.select("u", F.col("m").alias("v"))
    return _canon(nbrs.unionByName(self_edge))


def connected_components_star(
    edges: DataFrame, max_rounds: int = 32, canonical: bool = False
) -> tuple[DataFrame, int]:
    """Exact connected components of an undirected edge set.

    edges: DataFrame(u, v) — any orientation, duplicates/self-loops fine.
    canonical=True asserts the input is ALREADY u > v, self-loop-free and
    distinct (the LSH bucket-star edge sets are, by construction): the
    canonicalizing distinct is skipped and the node universe is derived
    from the one checkpointed edge set, so the caller's edge pipeline
    runs exactly once instead of twice.
    Returns (labels, rounds): labels = DataFrame(node, label) with label =
    the component's minimum node id, one row per distinct endpoint;
    rounds = number of (large-star, small-star) pairs executed.

    Every round is a bounded chain of uniform-key shuffles on node ids
    (groupBy + joins); lineage is cut per round with localCheckpoint
    (NOT persist: a persisted DF keeps its Catalyst lineage and every
    round re-plans the caller's whole pipeline — guide §5) so the plan
    does not grow with iteration count. The AQE rebalance ahead of each
    checkpoint right-sizes the cached partitions from the advisory size
    (scale-adaptive; a tiny edge set otherwise iterates over the
    shuffle-partition count in pure task overhead). Raises if the
    checksum has not stabilized within max_rounds — with O(log^2 n)
    guaranteed convergence, hitting 32 means the input is not a graph
    at all.
    """
    if canonical:
        e = edges.hint("rebalance").localCheckpoint()
        nodes = (
            e.select(F.col("u").alias("node"))
            .unionByName(e.select(F.col("v").alias("node")))
            .distinct()
            .localCheckpoint()
        )
    else:
        # persist the raw input once: canon and nodes below are two
        # separate eager jobs, and without this each re-runs the
        # caller's whole edge pipeline
        edges = edges.persist()
        e = _canon(edges).hint("rebalance").localCheckpoint()
        # every endpoint must survive to the label output even if its
        # edges collapse away (self-loop-only nodes never reach canon)
        nodes = (
            edges.select(F.col("u").alias("node"))
            .unionByName(edges.select(F.col("v").alias("node")))
            .distinct()
            .localCheckpoint()
        )
        edges.unpersist()
    prev = None
    converged = False
    rounds = 0
    # no rebalance inside the loop: the round output's partitioning is
    # already AQE-coalesced post-distinct, and an A/B (3 interleaved reps,
    # prod config, sf1) showed the extra per-round exchange buys nothing
    for _ in range(max_rounds):
        e = _small_star(_large_star(e)).localCheckpoint()
        rounds += 1
        # decimal(38,0) accumulator: a long sum of xxhash64 values
        # overflows under ANSI mode; decimal headroom covers 10^12 edges
        chk = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).collect()[0]
        cur = (chk["n"], str(chk["h"]))
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components_star: edge checksum not stable after "
            f"{max_rounds} rounds — O(log^2 n) convergence violated; "
            f"input is malformed"
        )
    # fixed point is a star forest: each non-root points straight at its
    # component min. Roots (and isolated nodes) label themselves.
    point = e.groupBy(F.col("u").alias("node")).agg(F.min("v").alias("m"))
    return (
        nodes.join(point, "node", "left").select(
            "node", F.coalesce("m", F.col("node")).alias("label")
        ),
        rounds,
    )
