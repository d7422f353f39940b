"""Streaming semantic deduplication (online SemDeDup admission).

The batch twin is :func:`basenine_spark.ops.similarity.semantic_dedup`
(SemDeDup, Abbas et al. 2023): cluster with k-means, then within each
cluster greedily drop vectors whose cosine similarity to an already-
kept vector exceeds a threshold.  This module runs the same admission
decision *online* over an ingest stream — the shape a training-data
pipeline actually needs when a crawler delivers embeddings
continuously: a new vector is admitted iff it is not a near-duplicate
of anything this cluster has already admitted.

State design (``applyInPandasWithState`` keyed by cluster id):

* the per-cluster state is the matrix of admitted **unit** vectors,
  stored as packed float64 bytes — fixed dim × ``max_kept`` rows, so a
  cluster's state is bounded at ``max_kept × dim × 8`` bytes no matter
  how much data streams through (the same bounded-memory contract as
  the watermarked exact-dedup stream);
* when a cluster reaches ``max_kept``, later vectors are still
  *compared* (so duplicates of remembered vectors keep being dropped)
  but no longer *remembered* — bounded state buys bounded recall, the
  LSH-band trade again, and the batch job is the periodic compactor;
* admission order inside a micro-batch is ascending ``vec_id`` — the
  batch twin's determinism contract, so replaying the same stream
  admits the same set.

Cluster routing uses a **pre-trained** centroid matrix (train with
:func:`~basenine_spark.ops.similarity._kmeans_centroids` on a bounded
sample, or bring your own) broadcast into an Arrow-batched argmin —
the stream itself never shuffles except on the (int) cluster key.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..engine.db import BasenineDB

ADMIT_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("cluster", T.IntegerType()),
    ]
)

# packed float64 unit-vector matrix + its row count and dim
STATE_SCHEMA = T.StructType(
    [
        T.StructField("kept", T.BinaryType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("dim", T.IntegerType()),
    ]
)


def _admit_fn(threshold: float, max_kept: int):
    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        rows = []
        for pdf in pdfs:
            for vid, emb in zip(pdf["vec_id"], pdf["embedding"]):
                if emb is not None:
                    rows.append((int(vid), np.asarray(list(emb), dtype=np.float64)))
        if not rows:
            return
        rows.sort(key=lambda r: r[0])  # deterministic admission order
        dim = rows[0][1].shape[0]
        if state.exists:
            raw, n, sdim = state.get
            kept = np.frombuffer(bytes(raw), dtype=np.float64).reshape(
                int(n), int(sdim)
            )
        else:
            kept = np.zeros((0, dim), dtype=np.float64)
        kept_list = [kept]
        n_kept = kept.shape[0]
        admitted = []
        for vid, v in rows:
            norm = np.linalg.norm(v)
            u = v / (norm if norm > 0 else 1.0)
            K = np.concatenate(kept_list) if len(kept_list) > 1 else kept_list[0]
            if K.shape[0] == 0 or float((K @ u).max()) < threshold:
                admitted.append((vid, key[0]))
                if n_kept < max_kept:
                    kept_list.append(u[None, :])
                    n_kept += 1
        K = np.concatenate(kept_list) if len(kept_list) > 1 else kept_list[0]
        state.update((K.tobytes(), int(K.shape[0]), int(dim)))
        if admitted:
            yield pd.DataFrame(admitted, columns=["vec_id", "cluster"])

    return fn


def semantic_admit_stream(
    db: BasenineDB,
    centroids,
    threshold: float = 0.95,
    max_kept: int = 1024,
    query_name: str = "semantic_admitted",
    checkpoint: str | None = None,
):
    """Start the online semantic-admission stream over a durable
    BasenineDB's log whose documents carry ``{"vec_id": …,
    "embedding": […]}``; admitted vectors land in the in-memory table
    ``query_name``.  ``centroids`` is a (k, dim) array-like (train on a
    bounded sample ahead of time).  ``checkpoint`` defaults to a STABLE path derived from the log
    path and query name, so restarting the same query resumes its
    state instead of replaying the log (and no per-start ckpt dirs
    leak); pass a throwaway path for a deliberate from-scratch
    replay. NOTE: the default in-memory table sink is NOT recoverable
    across JVM restarts — a same-name restart resumes *offsets and
    state* but the memory table restarts empty, so pre-restart output
    rows never reappear; pair the stable checkpoint with a durable
    sink when replay-safe output matters. Returns the StreamingQuery."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    if db._log is None:
        raise ValueError(
            "semantic_admit_stream requires a log-backed db, not a mount"
        )
    from ..engine.log import LOG_SCHEMA

    C = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("int")
    def cell_of(embs: pd.Series) -> pd.Series:
        import numpy as np  # noqa: F811 — executor-side import

        mat = np.stack(
            [np.asarray(list(e), dtype=np.float64) for e in embs]
        )
        d = ((mat[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d.argmin(axis=1).astype("int32"))

    stream = db.spark.readStream.schema(LOG_SCHEMA).parquet(db._log.path)
    vecs = (
        stream.select(
            F.from_json(
                F.col("value"), "vec_id long, embedding array<double>"
            ).alias("d")
        )
        .select("d.vec_id", "d.embedding")
        .filter(
            F.col("vec_id").isNotNull() & (F.size("embedding") > 0)
        )
        .withColumn("cluster", cell_of(F.col("embedding")))
    )
    admitted = vecs.groupBy("cluster").applyInPandasWithState(
        _admit_fn(threshold, max_kept),
        ADMIT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    return (
        admitted.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option(
            "checkpointLocation",
            checkpoint or f"{db._log.path}_semadmit_ckpt_{query_name}",
        )
        .start()
    )
