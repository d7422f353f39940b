"""Streaming DSIR admission gate — online target-likeness scoring.

The batch op (:func:`..ops.sampling.dsir_select`) fits two smoothed
unigram LMs and ranks the pool after the fact.  This stream applies a
FROZEN hashed DSIR model at INGEST: every arriving document gets the
per-token mean log importance ratio under the model, and documents at
or above the admission threshold land in the hits table while the
stream runs — the "keep only target-like data" shape of a continuous
crawl intake (score-then-admit, exactly how DSIR is deployed: the
model is fit once on a target sample, then streamed over the raw
pool).

Scale design — deliberately STATELESS:

* the model is a fixed array of ``n_buckets`` log-ratios (DSIR's own
  hashed-feature design: size independent of vocabulary — 2^16
  doubles is 512 KiB regardless of corpus size), shipped to executors
  once via a Spark broadcast;
* token → bucket is JVM-side (``transform`` + ``xxhash64``/``pmod``
  over the split array — no Python in the tokenize path);
* the model APPLY is one vectorized Arrow UDF over the bucket arrays
  (numpy fancy-indexing per batch) — the lookup of 10⁴⁺ array
  elements per row against a broadcast float array has no JVM
  built-in, and per-row Python is never touched;
* no keyed state, no watermark, nothing to checkpoint beyond source
  offsets; output volume is bounded by admitted traffic.

The model itself comes from :func:`train_dsir_model` — the same
conditional-count aggregate as the batch op, collapsed onto hashed
buckets and collected once (bounded: ``n_buckets`` rows, never the
vocabulary).

Reference: the reference engine has no model-scoring surface; this is
extension surface over the same ingest log as ``streaming/tail.py``
(S1/T1 plumbing).
"""

from __future__ import annotations

import time

import pandas as pd  # module-level: pandas_udf resolves stringified hints
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ops.util import stable_round


def train_dsir_model(
    docs: DataFrame,
    target_pred,
    n_buckets: int = 1 << 16,
    alpha: float = 0.5,
) -> list[float]:
    """Fit the hashed log-ratio model: ``lw[b] = ln p_t(b) - ln p_r(b)``
    over ``n_buckets`` hashed unigram buckets with add-``alpha``
    smoothing (smoothing over the FIXED bucket space, so every bucket
    has a defined ratio — streaming docs never see an OOV).

    ``docs`` needs (text, …); ``target_pred`` is a boolean Column
    marking the target slice.  One (bucket)-keyed partial-agg shuffle
    onto ≤ ``n_buckets`` rows, collected once (bounded by design).
    Returns the dense model as a list indexed by bucket.
    """
    import math

    toks = docs.filter(F.col("text").isNotNull()).select(
        target_pred.alias("is_t"),
        F.explode(F.split(F.col("text"), " ")).alias("token"),
    ).filter(F.col("token") != "")
    counts = (
        toks.select(
            "is_t",
            F.pmod(F.xxhash64("token"), F.lit(n_buckets)).alias("b"),
        )
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("ct"),
            F.sum(F.when(F.col("is_t"), 0).otherwise(1)).alias("cr"),
        )
        .collect()
    )
    ct = [0] * n_buckets
    cr = [0] * n_buckets
    for row in counts:
        ct[row["b"]] = row["ct"]
        cr[row["b"]] = row["cr"]
    tt, tr = float(sum(ct)), float(sum(cr))
    dt, dr = tt + alpha * n_buckets, tr + alpha * n_buckets
    return [
        math.log((ct[b] + alpha) / dt) - math.log((cr[b] + alpha) / dr)
        for b in range(n_buckets)
    ]


def dsir_admit_stream(
    db,
    model: list[float],
    threshold: float = 0.0,
    query_name: str = "dsir_admitted",
    fields: str = "doc_id long, text string",
):
    """Start the admission gate over a durable BasenineDB's document
    log.  Admitted rows land in the in-memory table ``query_name`` as
    (doc_id, dsir_weight, n_tokens); docs below ``threshold`` (and
    empty/NULL-text docs, which have no evidence either way) are
    dropped.  Returns the StreamingQuery.
    """
    if db._log is None:
        raise ValueError(
            "dsir_admit_stream requires a log-backed db, not a mount"
        )
    from pyspark.sql.functions import pandas_udf

    from ..engine.log import LOG_SCHEMA

    n_buckets = len(model)
    bc = db.spark.sparkContext.broadcast(model)

    @pandas_udf("double")
    def mean_lw(buckets: pd.Series) -> pd.Series:
        import numpy as np

        m = np.asarray(bc.value)

        def score(bs):
            return float(np.mean(m[np.asarray(bs, dtype=np.int64)]))

        return buckets.map(score)

    stream = db.spark.readStream.schema(LOG_SCHEMA).parquet(db._log.path)
    docs = stream.select(
        F.from_json(F.col("value"), fields).alias("d")
    ).select("d.*")
    bucketed = docs.select(
        "doc_id",
        F.expr(
            "transform(filter(split(text, ' '), t -> t != ''),"
            f" t -> pmod(xxhash64(t), {n_buckets}))"
        ).alias("buckets"),
    ).filter(F.size("buckets") > 0)
    scored = bucketed.select(
        "doc_id",
        stable_round(mean_lw("buckets"), 6).alias("dsir_weight"),
        F.size("buckets").cast("bigint").alias("n_tokens"),
    ).filter(F.col("dsir_weight") >= threshold)
    return (
        scored.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .start()
    )


def await_rows(
    spark: SparkSession, table: str, at_least: int, timeout: float = 30.0
) -> int:
    """Poll the memory sink until ≥ at_least rows or timeout."""
    t0 = time.time()
    while time.time() - t0 < timeout:
        got = spark.table(table).count()
        if got >= at_least:
            return got
        time.sleep(0.2)
    return spark.table(table).count()
