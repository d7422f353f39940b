"""Graph centrality over the k-NN neighborhood graph — the
"connectivity quality" signal for embedding-space curation: documents
whose neighborhoods are dense and well-connected (hubs of a semantic
cluster) score high; isolated outliers score low.

PageRank (Page et al. 1999, public) as pure keyed dataflow: one
edges-join-ranks shuffle + one dst-keyed aggregation per iteration,
with per-round ``localCheckpoint`` lineage truncation (same plan-growth
discipline as the label-propagation clustering loop — without it the
logical plan nests one join deeper per iteration). Dangling mass
(nodes with no out-edges) is redistributed uniformly each round INSIDE
the dataflow: the 1-row dangling-sum aggregate broadcast-cross-joins
onto the rank update, so an iteration is exactly one job — the two
keyed shuffles plus a scalar side-branch — with no driver-side
``collect`` anywhere in the loop body. At 1000 executors each
iteration is two keyed shuffles over the (bounded, ~k x N) edge list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import similarity
from .util import release_checkpoint, stable_round


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    round_eps: float = 0.0,
    plan_sink: dict | None = None,
) -> DataFrame:
    """PageRank over a directed edge list (src, dst). Returns
    (node, rank) for every node appearing as src or dst; ranks sum to
    1 (rounded to 6 decimals in the output so accumulation order can't
    leak into comparisons).

    ``round_eps``: a pre-rounding nudge for exact-regime cross-engine
    comparison. A FIXED-iteration run over a uniform-out-degree graph
    yields ranks on an exact decimal lattice (rationals with
    denominator 100·deg·n per iteration) whose points can land
    PRECISELY on 6-decimal half-way rounding boundaries — there the
    floor(x·1e6+0.5) idiom amplifies cross-engine aggregation-order
    ulps (~1e-13) into a ±1e-6 flip (observed at sf0.1: 8/2000 nodes).
    Adding 1e-9 moves every true lattice value 1e-9 clear of the
    boundary (lattice spacing ≥ ~1e-7 for any realistic n, noise
    ≤ ~1e-13), making the rounded output engine-stable; the oracle
    applies the identical nudge. 0.0 (default) keeps production
    output unchanged."""
    # materialize the skinny (src, dst) list ONCE (round 14, guide
    # §1.2): the setup consumes `edges` four times (out_deg, both
    # union branches of `nodes`, the `wedges` join) — an expensive
    # caller lineage (e.g. the brute-force GEMM kNN feeding
    # knn_pagerank_exact_regime) otherwise re-evaluates per consumer
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    # scale-adaptive loop partitioning (round 15, guide §2.2 — fewer,
    # larger partitions): every per-iteration shuffle carries at most
    # the rank/contribution table (≤ nodes ≤ 2·edges rows of 3 small
    # columns); sizing the loop's shuffle partitions to that volume
    # (floor 8, NEVER above the session default — a cluster-sized
    # session keeps its parallelism) removes the empty-task scheduling
    # tax the session-wide count pays per round. Rank sums are keyed
    # per node, so values are partitioning-invariant up to the
    # accumulation-order ulps the stable rounding's eps-nudge already
    # absorbs (see round_eps).
    spark = edges.sparkSession
    n_edges = edges.count()
    cur_parts = spark.conf.get("spark.sql.shuffle.partitions")
    loop_parts = min(int(cur_parts), max(8, -(-int(n_edges) // 65536)))
    spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    try:
        return _pagerank_body(
            edges, damping, iters, round_eps, plan_sink
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", cur_parts)


def _pagerank_body(
    edges: DataFrame,
    damping: float,
    iters: int,
    round_eps: float,
    plan_sink: dict | None,
) -> DataFrame:
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    has_out = out_deg.select(F.col("src").alias("node"), F.lit(True).alias("out_ok"))
    # nodes tagged ONCE with whether they have out-edges — the dangling
    # indicator rides along in the rank vector so the per-iteration
    # dangling mass is a conditional aggregate, not a join.
    # Co-partitioning (round 15, guide §2.4): `nodes` is pinned on
    # hash(node) and `wedges` on hash(src) BEFORE the loop, so every
    # iteration's two keyed operations reuse these exchanges instead
    # of reshuffling the edge list per round: contribs' groupBy(dst)
    # output is hash(node)-compatible with the cached `nodes`, and the
    # checkpointed rank vector carries its hash(node) partitioning
    # into the next round's contribs join (LogicalRDD preserves the
    # physical outputPartitioning; the node→src alias is
    # partitioning-transparent). Net per-iteration exchanges: only the
    # inherent contribution shuffle.
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .join(has_out, "node", "left")
        .select("node", F.coalesce("out_ok", F.lit(False)).alias("out_ok"))
        .repartition("node")
    ).cache()
    n_nodes = nodes.count()
    # weighted edges: contribution fraction per out-edge, pre-hashed on
    # the per-iteration join key
    wedges = edges.join(out_deg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("deg")).alias("w")
    ).repartition("src").cache()
    wedges.count()  # materialize once; reused every iteration
    ranks = nodes.select("node", "out_ok", F.lit(1.0 / n_nodes).alias("rank"))
    # superseded-iteration checkpoint release (round 14, guide §5):
    # the eager checkpoint below fully materializes iteration i's rank
    # table, after which iteration i-1's blocks are dead — unpersist
    # them instead of leaking one rank table per iteration into
    # storage memory for the rest of the session.
    prev_ckpt = None
    for i in range(iters):
        contribs = (
            wedges.join(
                ranks.select(F.col("node").alias("src"), "rank"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("w")).alias("contrib"))
        )
        # dangling mass stays IN the dataflow: a 1-row aggregate
        # broadcast-cross-joined onto the update, evaluated inside the
        # same job as the checkpoint — no driver action in the loop
        dangling = ranks.filter(~F.col("out_ok")).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
        )
        update = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "out_ok",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping) * F.col("dm") / n_nodes
                    + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        if plan_sink is not None and i == min(1, iters - 1):
            # steady-state iteration plan (plans/r15 evidence; i=0 reads
            # the pre-loop rank projection instead of a checkpoint, so
            # it is captured only when it is the sole iteration)
            plan_sink["iteration"] = update._jdf.queryExecution(
            ).explainString(
                update.sparkSession._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted")
            )
        ranks = update.localCheckpoint(eager=True)  # truncate lineage
        if prev_ckpt is not None:
            release_checkpoint(prev_ckpt)
        prev_ckpt = ranks
    nodes.unpersist()
    wedges.unpersist()
    if iters > 0:
        # the returned frame reads only the final iteration's
        # checkpoint; with iters == 0 it still reads nodes <- edges
        release_checkpoint(edges)
    out_rank = (
        F.col("rank") + F.lit(round_eps) if round_eps else F.col("rank")
    )
    return ranks.select("node", stable_round(out_rank, 6).alias("rank"))


def knn_pagerank(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    iters: int = 8,
    tables: int = 12,
    bits: int = 8,
) -> DataFrame:
    """Centrality of every embedding in its k-NN graph: compose
    :func:`..similarity.knn_graph` (directed top-k edges) with
    :func:`pagerank`. Output: (node, rank)."""
    edges = similarity.knn_graph(
        spark, sf_dir, k=k, tables=tables, bits=bits
    ).select("src", "dst")
    return pagerank(edges, iters=iters)


def knn_pagerank_exact_regime(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    iters: int = 2,
) -> DataFrame:
    """PageRank in its EXACT REGIME (round 14, VERDICT r13 #5b): over
    the deterministic brute-force kNN edge list
    (:func:`..similarity.knn_graph_exact`, already under a full SQL
    oracle), a FIXED-2-iteration run is a closed-form SQL aggregate —
    two unrolled contribution self-joins — so the whole distributed
    rank dataflow (degree weighting, the dangling-mass side branch,
    the damping update, the keyed shuffles and lineage truncation)
    gets a complete DuckDB value oracle, not just the independent
    numpy power-iteration contract (``pagerank_contract`` keeps that
    for the production iteration count). Runs the REAL
    :func:`pagerank` body unchanged; the oracle mirrors its float
    ARITHMETIC ORDER exactly (``rank * (1/deg)``, ``(1-d)/n +
    d*dm/n + d*contrib`` left-associated) so the only cross-engine
    divergence is aggregation-order ulps under the 6-decimal
    stable rounding.
    """
    edges = similarity.knn_graph_exact(spark, sf_dir, k=k).select(
        "src", "dst"
    )
    # round_eps: see pagerank() — fixed-iteration ranks form an exact
    # decimal lattice that lands ON half-way rounding points; the nudge
    # (mirrored in the oracle) keeps the 6-decimal output engine-stable
    return pagerank(edges, iters=iters, round_eps=1e-9)


def pagerank_contract(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    iters: int = 5,
    damping: float = 0.85,
    tol: float = 1e-9,
) -> DataFrame:
    """Driver-verified contract for :func:`knn_pagerank` (never
    driver-checked in rounds 1-11): the distributed rank vector is
    diffed against an INDEPENDENT driver-side numpy power iteration
    over the collected edge list — same damping, same dangling-mass
    redistribution, same iteration count, a different execution
    substrate entirely.

    The edge list is bounded by construction (N×k rows — the same
    bounded-collect class as the count-gated union-find fast path),
    the node universe and both vectors are one small collect each.
    Ranks are compared at the op's emitted stable_round(.,6)
    resolution with ``tol`` absorbing the distributed sum's
    accumulation-order ulps: ``n_rank_mismatch`` = 0, and the numpy
    vector's total mass must stay 1 within ``tol`` every iteration
    (``n_mass_violations`` = 0). Ballast: ``n_vecs`` (SQL-derivable;
    the graph's node count depends on the LSH bucketing and is
    asserted only to be positive)."""
    import numpy as np

    from .util import timed_phase

    with timed_phase("build"):
        edges_df = similarity.knn_graph(spark, sf_dir, k=k).select(
            "src", "dst"
        ).localCheckpoint(eager=True)

    n_vecs = similarity.load_embeddings(spark, sf_dir).count()
    if edges_df.limit(1).count() == 0:
        # degenerate input (empty graph): zero violations over zero
        # nodes, not a 1.0/0 crash — the contract row stays comparable
        return spark.createDataFrame(
            [(int(n_vecs), 0, 0)],
            "n_vecs bigint, n_mass_violations bigint,"
            " n_rank_mismatch bigint",
        )

    with timed_phase("build"):
        ranks_df = pagerank(edges_df, damping=damping, iters=iters)
        got = {r["node"]: r["rank"] for r in ranks_df.collect()}

    with timed_phase("verify"):
        edges = [(r["src"], r["dst"]) for r in edges_df.collect()]

        nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
        idx = {n: i for i, n in enumerate(nodes)}
        n = len(nodes)
        out_deg = np.zeros(n)
        for s, _ in edges:
            out_deg[idx[s]] += 1
        rank = np.full(n, 1.0 / n)
        mass_viol = 0
        for _ in range(iters):
            contrib = np.zeros(n)
            for s, d in edges:
                contrib[idx[d]] += rank[idx[s]] / out_deg[idx[s]]
            dangling = rank[out_deg == 0].sum()
            rank = (
                (1.0 - damping) / n
                + damping * dangling / n
                + damping * contrib
            )
            if abs(rank.sum() - 1.0) > tol:
                mass_viol += 1

        # compare the emitted (stable-rounded) rank against the RAW
        # numpy rank: emitted is within 0.5 ulp of the distributed raw
        # value and the two raw vectors agree within tol, so the bound
        # below cannot false-positive at a rounding-grid boundary
        # (comparing two independently-rounded values could differ by a
        # full grid step)
        scale = 1e6
        mism = 0
        for node, emitted in got.items():
            if abs(emitted - rank[idx[node]]) > 0.5 / scale + tol:
                mism += 1
        mism += len(set(nodes) - set(got))  # node sets must agree too

    return spark.createDataFrame(
        [(int(n_vecs), int(mass_viol), int(mism))],
        "n_vecs bigint, n_mass_violations bigint, n_rank_mismatch bigint",
    )
