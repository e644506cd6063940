"""Link-graph ranking over the crawl's URL/edge surface.

The reference stores the discovered link graph (`url_source_id` /
`url_target_id`, Scrapetition.hs URL-edge rows; SURVEY §2.1 S7) but
never ranks it — any real crawl scheduler built on that table wants a
link-authority signal to order the frontier (the classic
Page/Brin/Motwani/Winograd 1998 formulation). ``pagerank`` is that
operator, expressed Spark-first as a fixed-iteration power method:

- **One join and one aggregate per iteration.** The weighted edge
  frame is built once: out-degree weights over every edge, then only
  edges into ``nodes``, plus one zero-weight self-edge per node, so
  every node has a row in each round's ``groupBy("dst")`` and no join
  back to the node frame is needed. ``edges ⋈ ranks`` co-partitions
  on ``src`` (the edge frame is materialized once, up front) and the
  contribution sum is a map-side-combining hash aggregate on ``dst``
  that also applies the damping. Nothing driver-side touches row
  data; the only actions are the node count (one scalar, bounded
  metadata) and a ``localCheckpoint`` every ``CHECKPOINT_EVERY``
  rounds that truncates lineage, so the plan stays at most that many
  rounds deep (same discipline as ``threads.propagate_threads``). On
  a real cluster the checkpoint becomes ``persist(DISK_ONLY)`` +
  unpersist of the previous one; the loop shape is unchanged.
- **Deterministic across engines.** Iterations are a fixed count (no
  convergence epsilon — an epsilon gate on floating sums is not
  reproducible across engines), intermediate math is plain double,
  and only the OUTPUT is rounded: ``nrank = round(rank · n, round_to)``
  — the n-normalized rank is O(1) at any corpus size, so the rounding
  tolerance is scale-independent. The DuckDB twin unrolls the same
  iterations as a CTE chain.
- **Leaky-mass formulation.** ``rank' = (1-d)/n + d · Σ rank/outdeg``
  with no dangling-node redistribution; nodes without out-edges leak
  their damped mass, and so does an edge into a node outside
  ``nodes`` (it counts in its source's out-degree, but its share
  lands nowhere); documented, mirrored exactly in the oracle.
  The crawl-native graph (`corpus.link_graph_from_documents`) has
  out-degree >= 1 — the (d+1)%n edge always exists — so no node
  leaks damped mass there.

At 10^10 edges the iteration cost is the Σ-contribution shuffle;
partitioning edges by ``src`` once and reusing that exchange every
round (Spark reuses the checkpointed partitioning) keeps each round
at a single exchange of (dst, contrib) pairs, and AQE coalesces the
post-agg side. Hot pages (in-degree skew) are absorbed by the
map-side partial aggregation — the reduce side only sees one partial
per task, not one row per in-link.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# PageRank rounds between lineage cuts: the plan grows by one join and
# one aggregate per round, and each cut costs a job.
CHECKPOINT_EVERY = 5


def pagerank(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    damping: float = 0.85,
    n_iter: int = 10,
    round_to: int = 6,
    partitions: int | None = None,
) -> DataFrame:
    """Fixed-iteration power-method PageRank.

    Parameters
    ----------
    edges : DataFrame with columns ``src``, ``dst`` (node ids; any
        orderable type). Parallel edges count once per occurrence
        (a page linking twice passes twice the weight), self-loops
        feed rank back to their node — both standard.
    nodes : optional DataFrame with column ``node``. When omitted it
        is derived as ``distinct(src ∪ dst)`` (one extra shuffle —
        callers that hold the node table pass it).
    Returns ``(node, nrank)`` where ``nrank = round(rank·n, round_to)``
    — the n-normalized score (uniform rank ⇒ 1.0).
    """
    if n_iter < 1:
        raise ValueError(f"pagerank: n_iter must be >= 1, got {n_iter}")
    if nodes is None:
        nodes = (
            edges.select(F.col("src").alias("node"))
            .unionByName(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
    nodes = nodes.select("node").localCheckpoint()
    n = nodes.count()  # bounded scalar action (one long)
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("nrank"))

    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("__outdeg"))
    # out-degree counts every edge; an edge into a node outside
    # ``nodes`` then only leaks its share. One zero-weight self-edge
    # per node puts every node in each round's ``groupBy("dst")``.
    ew = (
        edges.join(deg, "src")
        .join(nodes.select(F.col("node").alias("dst")), "dst", "left_semi")
        .select("src", "dst", (F.lit(1.0) / F.col("__outdeg")).alias("w"))
        .unionByName(
            nodes.select(
                F.col("node").alias("src"), F.col("node").alias("dst"), F.lit(0.0).alias("w")
            )
        )
    )
    if partitions:
        ew = ew.repartition(partitions, "src")
    # materialize the weighted edge frame once; every iteration
    # re-reads this partitioning instead of recomputing the degree agg
    ew = ew.localCheckpoint()

    base = (1.0 - damping) / n
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for rnd in range(1, n_iter + 1):
        ranks = (
            ew.join(ranks, F.col("src") == F.col("node"))
            .groupBy(F.col("dst").alias("node"))
            .agg(
                (F.lit(base) + F.lit(damping) * F.sum(F.col("rank") * F.col("w"))).alias("rank")
            )
        )
        if rnd % CHECKPOINT_EVERY == 0:
            ranks = ranks.localCheckpoint()  # truncate lineage
    return ranks.select(
        "node", F.round(F.col("rank") * F.lit(float(n)), round_to).alias("nrank")
    )


def hits(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    n_iter: int = 8,
    round_to: int = 6,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999): hub/authority scores
    over the link graph — the second classic authority signal next to
    ``pagerank``, and the one that separates "links to good pages"
    (hub) from "is linked by good hubs" (authority).

    Engine-reproducible variant: L1 normalization (divide by the
    score sum) instead of the textbook L2 — no sqrt, and the fixpoint
    direction is identical (normalization only rescales) — with every
    normalized score ROUNDED to ``round_to`` before the next
    half-step, the same mid-iteration rounding discipline as
    ``kmeans_assign`` centroids: FP summation order differs between
    engines, rounding is what makes each iteration bit-identical
    everywhere. The DuckDB twin unrolls the same half-steps.

    Per iteration: two co-partitioned join + map-side-combining hash
    aggregates (authority from in-edges, hub from out-edges) and two
    1-row sums for the normalizers — no corpus-sized shuffle beyond
    the edge joins; lineage truncated per half-step.

    Returns (node, hub, authority), both L1-normalized (they sum to
    1.0 · n's rounding) and rounded to ``round_to``.
    """
    if n_iter < 1:
        raise ValueError(f"hits: n_iter must be >= 1, got {n_iter}")
    if nodes is None:
        nodes = (
            edges.select(F.col("src").alias("node"))
            .unionByName(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
    nodes = nodes.select("node").localCheckpoint()
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
        )
    e = edges.select("src", "dst").localCheckpoint()

    def _norm_round(scores: DataFrame, col: str) -> DataFrame:
        # the total itself is rounded to 6 before dividing: the raw
        # sum of the (already-rounded) scores accumulates in engine/
        # partitioning-dependent order, and a 1-ulp total difference
        # landing exactly on a .5e-6 quotient boundary could flip a
        # 6th-decimal digit cross-engine; rounding the normalizer
        # (mirrored in the DuckDB twin) removes that ulp exposure
        # except for raw totals straddling a boundary themselves
        # (ADVICE r04)
        total = scores.agg(F.round(F.sum(col), 6).alias("__t"))
        return (
            scores.crossJoin(F.broadcast(total))
            .select(
                "node",
                # an edgeless graph (or one whose every edge points
                # outside `nodes`) sums to 0 — all-zero scores, not
                # null-poisoned division
                F.when(F.col("__t") == 0, F.lit(0.0))
                .otherwise(F.round(F.col(col) / F.col("__t"), round_to))
                .alias(col),
            )
            .localCheckpoint()
        )

    hub = nodes.select("node", F.lit(1.0 / n).alias("hub"))
    auth = None
    for _ in range(n_iter):
        contrib = (
            e.join(hub, e["src"] == hub["node"])
            .groupBy("dst")
            .agg(F.sum("hub").alias("__a"))
        )
        auth = _norm_round(
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left").select(
                "node", F.coalesce(F.col("__a"), F.lit(0.0)).alias("authority")
            ),
            "authority",
        )
        back = (
            e.join(auth, e["dst"] == auth["node"])
            .groupBy("src")
            .agg(F.sum("authority").alias("__h"))
        )
        hub = _norm_round(
            nodes.join(back, nodes["node"] == back["src"], "left").select(
                "node", F.coalesce(F.col("__h"), F.lit(0.0)).alias("hub")
            ),
            "hub",
        )
    return hub.join(auth, ["node"]).select("node", "hub", "authority")
