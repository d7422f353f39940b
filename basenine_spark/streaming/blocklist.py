"""Streaming blocklist-similarity gate — online decontamination.

The batch decontamination family (``text_decontaminate_spans``,
``dedup_ngram_jaccard``, ``search_hybrid_rrf``) answers "which corpus
documents resemble the benchmark/blocklist?" after the fact.  This
stream answers it at INGEST: every arriving document is scored against
a small, fixed blocklist along the same two axes the hybrid retriever
uses — dense cosine against blocklist embeddings and lexical n-gram
Jaccard against blocklist texts — and pairs crossing either threshold
land in the hits table while the stream is still running.  That is the
admission-control shape of benchmark decontamination: reject (or
quarantine) contaminated documents before they ever enter the corpus.

Scale design — deliberately STATELESS:

* the blocklist is a local relation broadcast into a stream-static
  join, so each micro-batch is a map-side nested-loop against ≤ |B|
  rows (|B| = benchmarks + banned passages: thousands, not millions) —
  no keyed state, no watermark bookkeeping, nothing to checkpoint
  beyond source offsets;
* gram sets and cosines are computed with the same JVM higher-order
  functions as the batch twins (``xxhash64`` rolled shingles,
  ``zip_with``/``aggregate`` dot products) — zero Python stages;
* output volume is bounded by actual contamination (pairs over
  threshold), not by traffic.

Reference: the reference engine has no similarity surface; this is
extension surface over the same ingest log as
``streaming/tail.py`` (S1/T1 plumbing).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine.db import BasenineDB
from ..ops.similarity import cosine
from ..ops.util import stable_round


def _with_grams(df: DataFrame, text_col: str, n: int) -> DataFrame:
    """Add a ``_grams`` column: distinct 64-bit rolled n-gram hashes of
    ``text_col`` — the :func:`..ops.dedup.hashed_shingle_sets`
    construction inline, usable on both the static blocklist and the
    streaming side. NULL text → empty gram set."""
    roll = f"slice(_toks, 1, size(_toks) - {n - 1})"
    for j in range(1, n):
        roll = (
            f"zip_with({roll}, slice(_toks, {j + 1}, size(_toks) - {n - 1}), "
            f"(x, y) -> xxhash64(x, y))"
        )
    return df.withColumn(
        "_toks", F.expr(f"transform(split({text_col}, ' '), t -> xxhash64(t))")
    ).withColumn(
        "_grams",
        F.expr(
            f"array_distinct(CASE WHEN size(_toks) >= {n} THEN {roll} "
            f"ELSE array() END)"
        ),
    ).drop("_toks")


def blocklist_gate_stream(
    db: BasenineDB,
    blocklist: DataFrame,
    tau_cos: float = 0.9,
    tau_jac: float = 0.5,
    n: int = 3,
    query_name: str = "blocklist_hits",
    fields: str = "doc_id long, text string, embedding array<float>",
):
    """Start the gate over a durable BasenineDB's document log.

    ``blocklist`` rows: (block_id long, text string nullable,
    embedding array<float> nullable) — a row with only ``text`` gates
    lexically, only ``embedding`` gates densely, both gates both.

    Hits land in the in-memory table ``query_name`` as
    (doc_id, block_id, cos, jaccard, hit_dense, hit_lexical) — one row
    per (document, blocklist entry) pair crossing EITHER threshold.
    Returns the StreamingQuery.
    """
    if db._log is None:
        raise ValueError(
            "blocklist_gate_stream requires a log-backed db, not a mount"
        )
    from ..engine.log import LOG_SCHEMA

    block = _with_grams(
        blocklist.select(
            "block_id",
            F.col("text").alias("b_text"),
            F.col("embedding").alias("b_emb"),
        ),
        "b_text",
        n,
    ).select(
        "block_id",
        F.col("_grams").alias("b_grams"),
        "b_emb",
    )

    stream = db.spark.readStream.schema(LOG_SCHEMA).parquet(db._log.path)
    # The gate has NO shuffle of its own (stateless broadcast NL join),
    # so without this exchange each micro-batch inherits the log's FILE
    # partitioning — the row-count-targeted ingest writes one file per
    # micro-batch, putting the entire |batch| x |B| intersect scan on
    # ONE core (measured: 6.4 s single-task batch at sf0.1, ~0.9 s
    # after). One skinny shuffle of the raw rows per batch is noise
    # next to the per-row gate work (|B| set intersects each), at any
    # scale; the partition count follows the session/replay-scoped
    # ``spark.sql.shuffle.partitions`` (guide §2.2 — scale-adaptive,
    # never a hard-coded local constant).
    docs = _with_grams(
        stream.repartition(
            int(db.spark.conf.get("spark.sql.shuffle.partitions"))
        )
        .select(F.from_json(F.col("value"), fields).alias("d"))
        .select("d.*"),
        "text",
        n,
    )

    inter = F.size(F.array_intersect("_grams", "b_grams")).cast("double")
    union = (
        F.size("_grams") + F.size("b_grams")
    ).cast("double") - inter
    cos = F.when(
        F.col("b_emb").isNotNull() & F.col("embedding").isNotNull(),
        cosine(F.col("embedding"), F.col("b_emb")),
    ).otherwise(F.lit(None).cast("double"))
    hit_dense = F.coalesce(cos, F.lit(-2.0)) >= tau_cos
    # PPJoin length filter (exactness-preserving): J(A,B) >= t forces
    # t·|B| <= |A| <= |B|/t, so size-mismatched pairs cannot cross the
    # lexical threshold — the O(|A|+|B|) per-pair hash-set intersect
    # (the dominant per-batch cost; measured ~30% of the gate) is
    # skipped for them. Dense hits escape the guard so every EMITTED
    # row still carries its true Jaccard; pruned pairs score 0.0 and
    # are exactly the pairs the unfiltered gate never emitted either.
    sa = F.size("_grams").cast("double")
    sb = F.size("b_grams").cast("double")
    len_ok = (sa >= F.lit(tau_jac) * sb) & (sb >= F.lit(tau_jac) * sa)
    jac = F.when(
        (len_ok | hit_dense) & (union > 0), inter / union
    ).otherwise(F.lit(0.0))

    scored = (
        docs.crossJoin(F.broadcast(block))  # stream-static, |B|-row side
        .select(
            "doc_id",
            "block_id",
            stable_round(cos, 6).alias("cos"),
            stable_round(jac, 6).alias("jaccard"),
            hit_dense.alias("hit_dense"),
            (jac >= tau_jac).alias("hit_lexical"),
        )
        .filter(F.col("hit_dense") | F.col("hit_lexical"))
    )
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
