"""Guard the release_checkpoint invariant (VERDICT r14 #7).

``ops.util.release_checkpoint`` unpersists the blocks of a
lineage-truncated localCheckpoint: by construction a released frame is
DEAD — a late consumer throws instead of recomputing. Every call site
therefore carries an implicit proof obligation: the released frame has
no consumer after the release, and in the iterative operators the
RETURNED frame must not reference any released round. These tests turn
that obligation into CI:

* the dead-after-release semantics itself is pinned (a refactor that
  silently made release a no-op, or Spark recomputing instead of
  throwing, changes the safety story either way);
* the named hazard sites (pagerank releasing its edge checkpoint while
  the returned frame rides the final round's checkpoint; the
  connected-components loop releasing superseded rounds) are forced to
  RE-EVALUATE their returned frames after the internal releases ran —
  a use-after-release anywhere in the returned lineage fails loudly
  here rather than at scale.
"""

import pytest
from py4j.protocol import Py4JJavaError

from basenine_spark.ops import graph
from basenine_spark.ops.dedup import connected_components
from basenine_spark.ops.util import release_checkpoint

EDGES = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (2, 4)]  # 4 is dangling


def test_released_checkpoint_is_dead(spark):
    df = spark.range(100).selectExpr("id", "id * 2 AS v").localCheckpoint(
        eager=True
    )
    assert df.count() == 100  # alive while the blocks exist
    release_checkpoint(df)
    # lineage is truncated to the (now unpersisted) RDD blocks: any
    # consumer must throw, NOT silently recompute — pin it so a future
    # refactor can't flip release into either a no-op or a recompute
    with pytest.raises(Py4JJavaError, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        df.count()


def test_release_is_best_effort_on_non_checkpoints(spark):
    df = spark.range(10).selectExpr("id")
    release_checkpoint(df)  # not a checkpoint: must be a silent no-op
    assert df.count() == 10


def test_pagerank_output_survives_internal_releases(spark):
    edf = spark.createDataFrame(EDGES, "src long, dst long")
    out = graph.pagerank(edf, iters=3)
    first = sorted((r["node"], r["rank"]) for r in out.collect())
    # second full evaluation AFTER pagerank released the edge
    # checkpoint and every superseded round: the returned frame must
    # depend only on the final round's (still-live) checkpoint
    second = sorted((r["node"], r["rank"]) for r in out.collect())
    assert first == second
    assert out.count() == 5


def test_connected_components_output_survives_internal_releases(spark):
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6), (8, 9), (9, 10)], "doc_a long, doc_b long"
    )
    # force the distributed label-propagation path (the release sites)
    out = connected_components(edges, max_iter=8, driver_max_edges=0)
    first = sorted((r["doc_id"], r["cluster_id"]) for r in out.collect())
    second = sorted((r["doc_id"], r["cluster_id"]) for r in out.collect())
    assert first == second
    assert first == [
        (0, 0), (1, 0), (2, 0), (5, 5), (6, 5), (8, 8), (9, 8), (10, 8),
    ]
