"""Distributed graph iterations — the curation surface over candidate-pair
graphs: connected components (the completion step of near-dup
deduplication), label-propagation communities and fixed-point
(personalized) PageRank.

Candidate pairs (from MinHash-LSH banding or exact Jaccard verification,
``operators/dedup.py``) form an undirected graph; each connected
component is one duplicate cluster, and the canonical representative is
the minimum document id. The reference pipeline deduplicates only by
primary key (Snowflake MERGE-style id upsert, `processor.py:55-59`);
cluster-level dedup is part of the beyond-reference training-data
surface (brief requirement).

Every operator is a prelude (symmetrize + checkpoint the edge list,
build the initial vector) plus a per-round ``step`` handed to one loop
driver, ``_fixed_point``, which owns the checkpoint cadence and the
optional convergence witness.

Scale notes:
- ``localCheckpoint(eager=True)`` cuts the lineage; without it the plan
  doubles per iteration and the driver OOMs on analysis long before
  data size matters. On a multi-node cluster prefer
  ``spark.sparkContext.setCheckpointDir`` + ``checkpoint()`` for
  executor-loss resilience.
- Connected components is Pregel-style min-label propagation (the
  scheme GraphX's ``connectedComponents`` uses): O(diameter) rounds.
  Near-dup graphs are overwhelmingly tiny star/clique clusters
  (diameter ≤ ~3), so the round count is small and independent of
  corpus size. Graphs dominated by long chains would want the
  large-star/small-star contraction of Kiveris et al., "Connected
  Components in MapReduce and Beyond" (SoCC 2014) — O(log n) rounds
  with the same per-round join shape.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_SCALE = 10**12  # fixed-point rank unit: 1.0 == 10^12


def _symmetrized(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The undirected edge list as ``(s, d)`` with both orientations,
    materialized ONCE — every round joins against it, and without this
    cut the full upstream plan (e.g. the Jaccard shingle self-join)
    re-executes per round."""
    fwd = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    return fwd.union(
        fwd.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).localCheckpoint(eager=True)


def _fixed_point(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    checkpoint_interval: int = 1,
    witness: Callable[[DataFrame], object] | None = None,
) -> DataFrame:
    """Run ``state = step(state)`` for at most ``rounds`` rounds.

    Without a witness the state is checkpointed every
    ``checkpoint_interval`` rounds and after the last one: each eager
    checkpoint is a full job, and a 2-3-round lineage is still a small
    plan (measured 6.1 s -> ~2.5 s at sf0.1 for 10 PageRank rounds).

    With a ``witness`` (a driver-side scalar of the state, evaluated on
    the checkpointed initial state and after every round) the state is
    checkpointed every round and the loop stops as soon as the witness
    value repeats — the caller guarantees a repeat means a fixpoint.
    """
    prev = witness(state) if witness is not None else None
    for i in range(rounds):
        state = step(state)
        if witness is not None or (i + 1) % checkpoint_interval == 0 or i == rounds - 1:
            state = state.localCheckpoint(eager=True)
        if witness is not None:
            cur = witness(state)
            if cur == prev:
                break
            prev = cur
    return state


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Label every node reachable through ``edges`` with the minimum node
    id of its component. Returns ``(node, component)`` — one row per
    distinct node appearing in the edge list (attach singletons by
    left-joining your id universe afterwards).

    Each round every node takes the minimum label over itself and its
    neighbors: one shuffle (join on node id) + one partial-aggregated
    min. Labels only ever decrease, so SUM(label) is a strictly
    decreasing convergence witness — one cheap aggregate per round
    instead of a change-count join.
    """
    sym = _symmetrized(edges, src, dst)
    # Round 0 fused into initialization: label = min(self, neighbors)
    # straight from the edge list — one aggregate instead of a
    # distinct + a full join round. Star clusters whose center is the
    # minimum id (the common near-dup shape) converge here, so the loop
    # only runs its confirmation pass.
    labels = (
        sym.union(sym.select("s", F.col("s").alias("d")))
        .groupBy(F.col("s").alias("n"))
        .agg(F.min("d").alias("label"))
        .localCheckpoint(eager=True)
    )

    def step(labels: DataFrame) -> DataFrame:
        vec = labels.select(F.col("n").alias("d"), "label")
        nbr_labels = sym.join(vec, "d").select(F.col("s").alias("n"), "label")
        return (
            labels.union(nbr_labels)
            .groupBy("n")
            .agg(F.min("label").alias("label"))
        )

    labels = _fixed_point(
        labels, step, max_iter,
        witness=lambda df: df.agg(F.sum("label")).first()[0],
    )
    return labels.select("n", F.col("label").alias("component"))


def dup_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str,
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """Assign every id in ``ids`` to its duplicate cluster: the connected
    component of the candidate-pair graph, with untouched documents as
    singleton clusters (component = own id). Keep-one-per-cluster is
    then ``filter(col(id_col) == col("component"))``.
    """
    comp = connected_components(pairs, pair_a, pair_b)
    return ids.select(F.col(id_col)).join(
        comp, ids[id_col] == comp["n"], "left_outer"
    ).select(
        F.col(id_col),
        F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 4,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007) over the symmetrized edge list — ``(n, community)``.

    Semantics (deterministic by construction, mirrored by the SQL
    oracle): labels start as node ids; each round every node adopts the
    majority label among its neighbours PLUS its own current label
    (the self-vote damps the 2-cycle oscillation synchronous LPA is
    prone to), ties broken by the SMALLEST label. All-integer algebra —
    counts and labels — so a fixed ``iters`` unrolls into oracle CTEs
    exactly like the fixed-point PageRank.

    Differs from ``connected_components`` (which floods the MINIMUM
    label through every connected node): majority voting stops at
    weakly-connected boundaries, so one component can hold several
    communities — the right granularity for 'which dup-family wrote
    this boilerplate' style questions. Per round: one edges⋈labels
    shuffle + one (node, label) count + one argmin aggregate."""
    sym = _symmetrized(edges, src, dst)
    nodes = (
        sym.select(F.col("s").alias("n")).distinct().localCheckpoint(eager=True)
    )

    def step(labels: DataFrame) -> DataFrame:
        neigh = sym.join(labels.select(F.col("n").alias("s"), "label"), "s").select(
            F.col("d").alias("n"), "label"
        )
        votes = (
            neigh.unionByName(labels)  # self-vote
            .groupBy("n", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # argmax-by-aggregation (r12 optimization): min of the
        # lexicographic struct (-c, label) IS "highest count, ties to
        # smallest label" — replaces the row_number window (full sort
        # of the vote list per node + filter) with a partially
        # aggregatable min that combines map-side (guide §2.3).
        return (
            votes.groupBy("n")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("neg_c"),
                        F.col("label").alias("label"),
                    )
                ).alias("top")
            )
            .select("n", F.col("top.label").alias("label"))
        )

    labels = _fixed_point(nodes.select("n", F.col("n").alias("label")), step, iters)
    return labels.select("n", F.col("label").alias("community"))


def pagerank_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    checkpoint_interval: int = 3,
) -> DataFrame:
    """Power-iteration PageRank in FIXED-POINT integer arithmetic —
    ``(n, rank_fp)`` with ranks in 1e-12 units (``PR_SCALE``), damping
    85/100, over the SYMMETRIZED edge list.

    Why integers: a float PageRank sums ``double`` shares per
    destination, which is accumulation-order-dependent at the 1e-16
    scale — harmless for ranking, fatal for a cross-engine value hash
    (the same flake class the round-2 advisor flagged on
    g_value_trend). Every operation here — integer ``div`` for shares,
    exact BIGINT sums, ``(85*contrib) div 100`` damping — is defined
    identically in Spark and any ANSI engine, so a DuckDB oracle can
    replay the 10 iterations as unrolled CTEs and match bit-for-bit
    (``plans/pagerank_sql.py``). Rank error vs the real-valued
    fixpoint is ≤ iters·|V|/SCALE — irrelevant at 1e-12 units.

    A fixed ``iters`` (not a convergence test) keeps the result exactly
    reproducible across engines and runs. Symmetric-only: every node
    then has out-degree ≥ 1, so no dangling mass and no per-round
    scalar aggregate. Per round: one edges⋈ranks shuffle + one
    partial-aggregated sum."""
    fwd = _symmetrized(edges, src, dst)
    nodes = (
        fwd.select(F.col("s").alias("n"))
        .union(fwd.select(F.col("d").alias("n")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_total = nodes.count()
    if n_total == 0:
        return nodes.select("n", F.lit(0).cast("long").alias("rank_fp"))
    # Out-degree attached to every edge ONCE, before the loop (r12
    # optimization, guide §2.4): the per-round ranks⋈deg join — one
    # exchange of the full rank vector per iteration — disappears, and
    # the per-edge share `rank_fp div deg` is value-identical to
    # joining a per-node share (deg is constant per s, div is exact).
    deg = fwd.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    fwd_deg = fwd.join(deg, "s").localCheckpoint(eager=True)

    init = PR_SCALE // n_total
    base = (15 * PR_SCALE) // (100 * n_total)

    def step(ranks: DataFrame) -> DataFrame:
        # Symmetrized graph ⇒ every node has ≥1 in-edge, so the contrib
        # aggregate already covers the full node universe — no per-round
        # nodes left-join (r12; equality pinned by
        # tests/test_graph_fixture_exact.py and the unrolled oracles).
        return (
            fwd_deg.join(ranks.withColumnRenamed("n", "s"), "s")
            .groupBy(F.col("d").alias("n"))
            .agg(F.sum(F.expr("rank_fp div deg")).alias("contrib"))
            .select(
                "n",
                (
                    F.lit(base).cast("long")
                    + F.expr("(85 * contrib) div 100")
                ).alias("rank_fp"),
            )
        )

    ranks = _fixed_point(
        nodes.select("n", F.lit(init).cast("long").alias("rank_fp")),
        step, iters, checkpoint_interval,
    )
    return ranks.select("n", "rank_fp")


def personalized_pagerank_fixed_point(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    checkpoint_interval: int = 3,
) -> DataFrame:
    """Personalized (seeded) fixed-point PageRank: the restart mass
    returns to the SEED SET instead of uniformly — rank concentrates
    around the seeds, which is the crawl-frontier / seed-expansion
    primitive of data curation ("find documents like these vetted
    ones"). Same integer arithmetic contract as ``pagerank_fixed_point``
    (1e-12 BIGINT units, div shares, 85/100 damping), so the DuckDB
    oracle unrolls it identically; ``seeds`` must be a single-column
    DataFrame of node ids (a subset of the graph's nodes).

    Init: seeds start with ``PR_SCALE // |S|`` each, non-seeds 0.
    Per round: ``r' = [n in S] * (15*SCALE)//(100*|S|) +
    (85*contrib) div 100``."""
    fwd = _symmetrized(edges, src, dst)
    nodes = (
        fwd.select(F.col("s").alias("n"))
        .union(fwd.select(F.col("d").alias("n")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    seed_col = seeds.columns[0]
    # flagged (n, is_seed) is the node universe both the init vector
    # and the static edge frame read — checkpointed once, and its
    # materializing aggregate returns n_seeds.
    flagged = (
        nodes.join(
            F.broadcast(
                seeds.select(
                    F.col(seed_col).alias("n"), F.lit(1).alias("is_seed")
                )
            ),
            "n",
            "left",
        )
        .select("n", F.coalesce("is_seed", F.lit(0)).alias("is_seed"))
        .localCheckpoint(eager=True)
    )
    n_seeds = flagged.agg(F.sum("is_seed")).first()[0] or 0
    if n_seeds == 0:
        return nodes.select("n", F.lit(0).cast("long").alias("rank_fp"))
    deg = fwd.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    # Static per-edge frame built ONCE (r12 optimization, guide §2.4):
    # out-degree of the source AND seed flag of the destination ride
    # every edge, so the loop needs neither the per-round ranks⋈deg
    # join nor the per-round flagged left-join — two full rank-vector
    # exchanges per iteration removed. Share arithmetic is unchanged
    # (`rank_fp div deg` per edge == per-node share joined out), and
    # the symmetrized graph guarantees the contrib aggregate covers
    # every node, so the row set is identical.
    fwd_deg = (
        fwd.join(deg, "s")
        .join(flagged.select(F.col("n").alias("d"), "is_seed"), "d")
        .localCheckpoint(eager=True)
    )
    init = PR_SCALE // n_seeds
    base = (15 * PR_SCALE) // (100 * n_seeds)

    def step(ranks: DataFrame) -> DataFrame:
        return (
            fwd_deg.join(ranks.withColumnRenamed("n", "s"), "s")
            .groupBy(F.col("d").alias("n"))
            .agg(
                F.sum(F.expr("rank_fp div deg")).alias("contrib"),
                F.max("is_seed").alias("is_seed"),
            )
            .select(
                "n",
                (
                    (F.col("is_seed") * F.lit(base)).cast("long")
                    + F.expr("(85 * contrib) div 100")
                ).alias("rank_fp"),
            )
        )

    ranks = _fixed_point(
        flagged.select(
            "n", (F.col("is_seed") * F.lit(init)).cast("long").alias("rank_fp")
        ),
        step, iters, checkpoint_interval,
    )
    return ranks.select("n", "rank_fp")
