"""Batch-replay driver rows for the streaming twins (VERDICT r10 #3).

The 17 streaming modules carry pytest agreement contracts but had zero
driver visibility in rounds 1-10: their semantics were never checked
against a DuckDB oracle. Round 11 brought the twins whose final output
is batching-invariant under the gate: a full replay of the static
corpus through the real Structured Streaming query produces a result a
SQL oracle can recompute. The first two (r11 early):

* k-anonymity gate (:mod:`.kanon`): the released SET is exactly "every
  row whose level-1 QI group total reaches k" — independent of how the
  stream was micro-batched (a group flushes the moment its running
  count crosses k, and later members pass through; under-k groups
  never emit). ``released_at_n`` IS batch-dependent, so the replay row
  projects it away.
* sentence scrub (:mod:`.sentences`): within one watermark horizon the
  admitted sentence KEY set equals the batch keep-first scrub's
  distinct case-folded sentence set (the surviving (doc_id, sent_idx)
  position is arbitrary intra-batch, so the replay row emits the md5
  key only — one row per admitted sentence, which also pins the
  exactly-once admission: a double emission would change the row
  count).

Each replay builds a throwaway durable BasenineDB, ingests the corpus
table as JSON documents through the real INSERT path, runs the real
streaming query to exhaustion (``processAllAvailable``, or input-row
accounting for ProcessingTimeTimeout queries), and returns the
batching-invariant projection. Ingest uses ``insert_json_df`` — the
bulk backfill path — so the corpus never materializes on the driver;
ids (and therefore arrival order) follow the sorted DataFrame's
partition order, the same guarantee the previous collect-then-insert
shape relied on.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..engine.db import BasenineDB
from ..sources.tables import load_table

# a replayed stream's shuffle partitions: one per this many rows, and
# at least STREAM_MIN_PARTITIONS (never above the session default)
STREAM_ROWS_PER_PARTITION = 16384
STREAM_MIN_PARTITIONS = 8


@contextmanager
def _stream_partitions(spark: SparkSession, n_rows: int):
    """Scale-adaptive state partitioning for a replayed stream (guide
    §2.2: fewer, larger partitions — here fewer STATE STORE instances).

    Stateful micro-batch cost is dominated by per-instance state-store
    commits (delta file + fsync per store per batch), which scale with
    the shuffle-partition count, not the data: the measured exposure
    replay spent ~56 s of cumulative commit time across 128 instances
    for ~120k state rows. Size the stream's shuffle partitions to the
    replayed volume (``STREAM_ROWS_PER_PARTITION`` rows per
    partition, at least ``STREAM_MIN_PARTITIONS``), never ABOVE the session default — a
    cluster-sized session keeps its parallelism; only the
    small-relative-to-default replays shed empty state instances. The
    conf is restored after the stream is planned; the partition count
    is pinned into the query's checkpoint by Spark, and every replay
    projection is partition-count invariant (sets / per-key folds /
    final aggregates)."""
    cur = spark.conf.get("spark.sql.shuffle.partitions")
    # volume-derived, but floored: a stream whose per-row work is
    # CPU-bound Python (applyInPandasWithState folds) still needs
    # compute parallelism even when its state would fit one store —
    # measured: semdedup at 1 partition serialized its per-cluster
    # cosine folds and LOST more than the commit overhead saved
    n = min(
        int(cur),
        max(STREAM_MIN_PARTITIONS, -(-int(n_rows) // STREAM_ROWS_PER_PARTITION)),
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", cur)


def kanon_replay(
    spark: SparkSession, sf_dir: str, k: int = 20
) -> DataFrame:
    """Replay the events table through the ONLINE k-anonymity gate and
    return the released rows' (event_id, qi_type, qi_hour, qi_band) —
    the batching-invariant projection. Oracle: rows whose level-1 QI
    group (sentinel-coalesced, exactly :mod:`.kanon`'s derivation)
    holds at least ``k`` rows."""
    from .kanon import k_anonymity_stream

    tmp = tempfile.mkdtemp(prefix="bn_kanon_replay_")
    qname = f"kanon_replay_{uuid.uuid4().hex[:12]}"
    try:
        db = BasenineDB(spark, path=f"{tmp}/store")
        ev = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("event_id").isNotNull())
            .select(
                F.to_json(
                    F.struct(
                        F.col("event_id"),
                        F.col("event_type"),
                        F.col("ts_ms"),
                        F.col("value"),
                    )
                ).alias("j")
            )
            .orderBy("j")
        )
        n_in = _ingest(db, ev)
        with _stream_partitions(spark, n_in):
            sq = k_anonymity_stream(
                db, k=k, query_name=qname, checkpoint=f"{tmp}/ckpt"
            )
            try:
                sq.processAllAvailable()
            finally:
                sq.stop()
        # memory-sink table: in-memory after stop, safe past tmp cleanup
        return spark.sql(
            f"""
            SELECT CAST(event_id AS BIGINT) AS event_id,
                   qi_type,
                   CAST(qi_hour AS BIGINT) AS qi_hour,
                   CAST(qi_band AS BIGINT) AS qi_band
            FROM {qname} ORDER BY event_id
            """
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _events_json(
    spark: SparkSession,
    sf_dir: str,
    cols: dict[str, str],
    require: tuple[str, ...] = (),
):
    """Events table → one JSON line per row carrying ``cols`` (a
    {json_field: source_column} map; ``load_table`` normalizes the
    event time to epoch-millis ``ts_ms``), ordered by event time so
    the replayed stream's watermark can never drop a late row —
    arrival order IS event-time order, whatever the micro-batch
    boundaries. Null ``ts_ms`` / ``event_id`` rows are dropped (no
    event time / identity), plus any columns in ``require``; other
    per-field nulls flow through (``to_json`` omits the key, the
    stream reads null — the twin's own null policy applies)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_id").isNotNull() & F.col("ts_ms").isNotNull()
    )
    for c in require:
        ev = ev.filter(F.col(c).isNotNull())
    struct_cols = [F.col(src).alias(dst) for dst, src in cols.items()]
    return ev.orderBy("ts_ms", "event_id").select(
        F.to_json(F.struct(*struct_cols)).alias("j")
    )



def _ingest(db, df) -> int:
    """insert_json_df wrapped in the "ingest" bench phase: every
    replay's log-load is harness cost, not the streaming operator
    under verification — the phase split lets bench_budgets pin the
    two separately (the stream side is total minus ingest unless a
    replay marks an explicit "stream"/"verify" phase)."""
    from ..ops.util import timed_phase

    with timed_phase("ingest"):
        return db.insert_json_df(df)


def _drain_stateful(
    sq, expected_rows: int, poll_s: float = 0.05, timeout_s: float = 600.0
) -> None:
    """Wait until a continuously-triggered STATEFUL query has consumed
    every ingested row, then return (caller stops the query).

    ``processAllAvailable`` is unusable here: a stateful operator with
    ProcessingTimeTimeout registrations keeps the micro-batch engine
    in an endless no-data "cleaning up state" commit loop (observed
    live: hundreds of zero-input commits; Available-Now does not
    bound it either). The static-log replay has a stronger signal:
    the source is a fixed file set, so once the cumulative
    ``numInputRows`` across progress events reaches the ingested
    count AND a trailing zero-input batch has committed, every datum
    has been folded into state/output and nothing new can ever
    arrive.

    ``recentProgress`` is a bounded ring buffer (default 100 entries)
    — with a 0.05 s poll against sub-second micro-batches it cannot
    overflow between polls in practice, but a stalled query would
    otherwise spin forever, so ``timeout_s`` bounds the wait: on
    expiry we raise with the last progress snapshot instead of
    hanging a bench/driver run indefinitely."""
    import time

    seen_ids: set[str] = set()
    total = 0
    trailing_zero = False
    deadline = time.monotonic() + timeout_s
    while not (total >= expected_rows and trailing_zero):
        if time.monotonic() > deadline:
            raise RuntimeError(
                f"_drain_stateful: {total}/{expected_rows} rows after "
                f"{timeout_s:.0f}s (trailing_zero={trailing_zero}); "
                f"last progress: {sq.lastProgress}"
            )
        time.sleep(poll_s)
        for p in sq.recentProgress:
            pid = f"{p['id']}/{p['batchId']}"
            if pid in seen_ids:
                continue
            seen_ids.add(pid)
            total += p["numInputRows"]
        lp = sq.lastProgress
        trailing_zero = bool(lp) and lp["numInputRows"] == 0
        if sq.exception() is not None:
            raise RuntimeError(str(sq.exception()))


def dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the documents table through the ONLINE exact-dedup
    stream (watermarked ``dropDuplicatesWithinWatermark`` on the md5
    of the JSON-extracted text) with a horizon covering the whole
    replay, and return the admitted content-key set — one row per
    admission, so a double emission changes the row count. Oracle:
    DISTINCT md5(text) of the corpus."""
    from .dedup import dedup_stream

    tmp = tempfile.mkdtemp(prefix="bn_dedup_replay_")
    qname = f"dedup_replay_{uuid.uuid4().hex[:12]}"
    try:
        db = BasenineDB(spark, path=f"{tmp}/store")
        docs = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
            .select(
                F.to_json(F.struct(F.col("doc_id"), F.col("text"))).alias("j")
            )
            .orderBy("j")
        )
        n_in = _ingest(db, docs)
        with _stream_partitions(spark, n_in):
            sq = dedup_stream(
                db,
                json_key="$.text",
                horizon_seconds=86_400 * 365,
                query_name=qname,
                checkpoint=f"{tmp}/ckpt",
            )
            try:
                sq.processAllAvailable()
            finally:
                sq.stop()
        return spark.sql(
            f"SELECT content_hash AS content_key FROM {qname} "
            "ORDER BY content_key"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def windows_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the events table through the watermarked tumbling-window
    count stream and return the FINAL count per (hour window,
    event_type). Update-mode emissions are monotone per group (each
    refresh supersedes the last), so the final value is ``max(cnt)``
    — batching-invariant because the time-sorted ingest means the
    watermark never drops a row. Oracle: the batch hourly rollup."""
    from .windows import windowed_counts_stream

    tmp = tempfile.mkdtemp(prefix="bn_windows_replay_")
    qname = f"win_replay_{uuid.uuid4().hex[:12]}"
    try:
        db = BasenineDB(spark, path=f"{tmp}/store")
        ev = _events_json(
            spark,
            sf_dir,
            {"event_id": "event_id", "event_type": "event_type",
             "ts_ms": "ts_ms"},
        )
        n_in = _ingest(db, ev)
        with _stream_partitions(spark, n_in):
            sq = windowed_counts_stream(
                db,
                window="1 hour",
                watermark="10 minutes",
                query_name=qname,
                checkpoint=f"{tmp}/ckpt",
            )
            try:
                sq.processAllAvailable()
            finally:
                sq.stop()
        return spark.sql(
            f"""
            SELECT window_start_ms,
                   coalesce(key, '(null)') AS event_type,
                   max(cnt) AS cnt
            FROM {qname}
            GROUP BY window_start_ms, key
            ORDER BY window_start_ms, event_type
            """
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def source_cap_replay(
    spark: SparkSession, sf_dir: str, cap: int = 10
) -> DataFrame:
    """Replay the documents table through the ONLINE per-source
    admission cap. WHICH documents are admitted depends on the
    micro-batch boundaries (first-``cap`` in arrival order), but the
    per-source admitted COUNT and the rank sequence 1..n are
    batching-invariant: exactly ``least(total, cap)`` contiguous
    ranks. Oracle: least(count, cap) three ways."""
    from .source_cap import source_cap_admit_stream

    tmp = tempfile.mkdtemp(prefix="bn_scap_replay_")
    qname = f"scap_replay_{uuid.uuid4().hex[:12]}"
    try:
        db = BasenineDB(spark, path=f"{tmp}/store")
        docs = (
            load_table(spark, sf_dir, "documents")
            .filter(
                F.col("doc_id").isNotNull() & F.col("source").isNotNull()
            )
            .select(
                F.to_json(
                    F.struct(F.col("doc_id"), F.col("source"))
                ).alias("j")
            )
            .orderBy("j")
        )
        n_in = _ingest(db, docs)
        with _stream_partitions(spark, n_in):
            sq = source_cap_admit_stream(
                db, cap=cap, query_name=qname, checkpoint=f"{tmp}/ckpt"
            )
            try:
                sq.processAllAvailable()
            finally:
                sq.stop()
        return spark.sql(
            f"""
            SELECT source,
                   count(*) AS n_admitted,
                   max(cap_rank) AS max_rank,
                   count(DISTINCT cap_rank) AS n_ranks
            FROM {qname} GROUP BY source ORDER BY source
            """
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def rfm_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the events table through the ONLINE RFM stream
    (metrics-only mode — no boundary snapshot) and return the FINAL
    per-user metrics: the emission with the highest frequency is the
    last one (frequency is strictly increasing per touched batch).
    recency/frequency are exact integers; monetary re-rounds through
    the engine-stable FLOOR idiom on both sides. Oracle: the batch
    per-user aggregate."""
    from ..ops.util import stable_round
    from .rfm import rfm_stream

    tmp = tempfile.mkdtemp(prefix="bn_rfm_replay_")
    qname = f"rfm_replay_{uuid.uuid4().hex[:12]}"
    try:
        db = BasenineDB(spark, path=f"{tmp}/store")
        ev = _events_json(
            spark,
            sf_dir,
            {"user_id": "user_id", "ts_ms": "ts_ms", "value": "value"},
        )
        n_in = _ingest(db, ev)
        with _stream_partitions(spark, n_in):
            sq = rfm_stream(db, query_name=qname, checkpoint=f"{tmp}/ckpt")
            try:
                sq.processAllAvailable()
            finally:
                sq.stop()
        final = (
            spark.table(qname)
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("user_id").orderBy(
                        F.col("frequency").desc()
                    )
                ),
            )
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                "recency_ms",
                "frequency",
                stable_round(F.col("monetary"), 4).alias("monetary"),
            )
            .orderBy("user_id")
        )
        return final.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def sessions_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the events table through the stateful gap
    sessionization stream and return every CLOSED session. A session
    closes only when a strictly-later event exceeds the gap, so the
    closed set is batching-invariant under time-sorted ingest; each
    user's final (still-open) session lives in state and is excluded
    from the oracle — the idle timeout is set far past the replay
    wall-clock so it cannot fire and make the result timing-dependent.
    Oracle: the batch sessionization minus each user's last session."""
    from .sessions import session_stream

    tmp = tempfile.mkdtemp(prefix="bn_sessions_replay_")
    qname = f"sess_replay_{uuid.uuid4().hex[:12]}"
    try:
        db = BasenineDB(spark, path=f"{tmp}/store")
        ev = _events_json(
            spark,
            sf_dir,
            {"user_id": "user_id", "ts_ms": "ts_ms"},
            require=("user_id",),
        )
        n_ingested = _ingest(db, ev)
        with _stream_partitions(spark, n_ingested):
            sq = session_stream(
                db,
                gap_minutes=30,
                idle_timeout_seconds=86_400,
                query_name=qname,
                checkpoint=f"{tmp}/ckpt",
            )
            try:
                _drain_stateful(sq, expected_rows=n_ingested)
            finally:
                sq.stop()
        return spark.sql(
            f"""
            SELECT user_id, session_start_ms, session_end_ms, n_events
            FROM {qname}
            ORDER BY user_id, session_start_ms
            """
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def quality_monitor_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the events table through the windowed data-quality
    monitor (two declarative rules) and return the FINAL violation
    counters per hour window — update-mode counters are monotone, so
    the final value per window is the max. NULL predicate results
    count as violations (the batch gate's conservative reading), which
    the oracle reproduces with the same CASE shape."""
    from .quality_monitor import quality_monitor_stream

    tmp = tempfile.mkdtemp(prefix="bn_qmon_replay_")
    qname = f"qmon_replay_{uuid.uuid4().hex[:12]}"
    try:
        db = BasenineDB(spark, path=f"{tmp}/store")
        ev = _events_json(
            spark,
            sf_dir,
            {"event_id": "event_id", "event_type": "event_type",
             "ts_ms": "ts_ms", "value": "value"},
        )
        n_in = _ingest(db, ev)
        with _stream_partitions(spark, n_in):
            sq = quality_monitor_stream(
                db,
                rules={
                    "v_value": F.col("value") >= 0,
                    "v_type": F.col("event_type").isin(
                        "click", "view", "purchase", "signup", "error"
                    ),
                },
                window="1 hour",
                watermark="10 minutes",
                query_name=qname,
                checkpoint=f"{tmp}/ckpt",
            )
            try:
                sq.processAllAvailable()
            finally:
                sq.stop()
        return spark.sql(
            f"""
            SELECT window_start_ms,
                   max(n_rows) AS n_rows,
                   max(v_value) AS v_value,
                   max(v_type) AS v_type
            FROM {qname} GROUP BY window_start_ms
            ORDER BY window_start_ms
            """
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def asof_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the events table through the stream-stream attribution
    join (purchases ⋈ same-user clicks within a 30-minute lookback)
    and return the emitted pair multiset projected to
    (purchase_user, purchase_ms, click_ms) — the log-assigned ids are
    ingest-order artifacts and are projected away. Time-sorted ingest
    keeps every candidate click inside the join state when its
    purchase arrives (eviction lags the watermark by the full
    horizon), so the pair set equals the batch range join."""
    from .asof import attribution_join_stream

    tmp = tempfile.mkdtemp(prefix="bn_asof_replay_")
    qname = f"asof_replay_{uuid.uuid4().hex[:12]}"
    try:
        db = BasenineDB(spark, path=f"{tmp}/store")
        ev = _events_json(
            spark,
            sf_dir,
            {"user": "user_id", "event_type": "event_type",
             "ts_ms": "ts_ms"},
        )
        n_in = _ingest(db, ev)
        with _stream_partitions(spark, n_in):
            sq = attribution_join_stream(
                db,
                horizon_minutes=30,
                watermark="10 minutes",
                user_field="user",
                query_name=qname,
                checkpoint=f"{tmp}/ckpt",
            )
            try:
                sq.processAllAvailable()
            finally:
                sq.stop()
        return spark.sql(
            f"""
            SELECT CAST(purchase_user AS BIGINT) AS purchase_user,
                   purchase_ms, click_ms
            FROM {qname}
            ORDER BY purchase_user, purchase_ms, click_ms
            """
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def semdedup_replay_contract(
    spark: SparkSession,
    sf_dir: str,
    k: int = 8,
    iters: int = 4,
    threshold: float = 0.35,
    tol: float = 1e-6,
) -> DataFrame:
    """Replay the embeddings table through the ONLINE SemDeDup
    admission stream and verify the admitted set's two defining
    invariants (the same checks `dedup_semantic_verified` runs for the
    batch op — implementation-independent, so they hold across any
    micro-batching):

    * MUTUAL DISSIMILARITY: no two admitted vectors in one cluster
      with cosine > threshold (+tol for accumulation-order ulps);
    * DROPPED COVERAGE: every non-admitted vector has an earlier
      admitted witness at >= threshold (−tol) in its cluster.

    Cluster routing uses the deterministic bounded-sample k-means
    centroids (`_kmeans_centroids`) on BOTH sides; `max_kept` is set
    above any cluster size so remembered == admitted. Embeddings are
    cast to double BEFORE the JSON ingest so the stream parses exactly
    the float-widened doubles the checker recomputes with."""
    from ..ops.similarity import (
        _kmeans_centroids,
        embed_clusters,
        load_embeddings,
        norm_col,
    )
    from .semdedup import semantic_admit_stream

    tmp = tempfile.mkdtemp(prefix="bn_semdedup_replay_")
    qname = f"semdd_replay_{uuid.uuid4().hex[:12]}"
    try:
        db = BasenineDB(spark, path=f"{tmp}/store")
        emb = (
            load_embeddings(spark, sf_dir)
            .filter(F.col("vec_id").isNotNull())
            .select(
                "vec_id",
                F.col("embedding").cast("array<double>").alias("e"),
            )
        )
        n_in = _ingest(db,
            emb.orderBy("vec_id").select(
                F.to_json(
                    F.struct(
                        F.col("vec_id"), F.col("e").alias("embedding")
                    )
                ).alias("j")
            )
        )
        cents = _kmeans_centroids(
            load_embeddings(spark, sf_dir), "embedding", k, iters
        )
        with _stream_partitions(spark, n_in):
            sq = semantic_admit_stream(
                db,
                cents,
                threshold=threshold,
                max_kept=1_000_000,
                query_name=qname,
                checkpoint=f"{tmp}/ckpt",
            )
            try:
                sq.processAllAvailable()
            finally:
                sq.stop()
        admitted = spark.sql(
            f"SELECT vec_id, cluster FROM {qname}"
        ).localCheckpoint(eager=True)

        assigned = (
            embed_clusters(spark, sf_dir, k=k, iters=iters)
            .filter(F.col("vec_id").isNotNull())
            .select("vec_id", "cluster")
        )
        embn = load_embeddings(spark, sf_dir).filter(
            F.col("vec_id").isNotNull()
        ).select(
            "vec_id",
            "embedding",
            F.when(norm_col(F.col("embedding")) == 0.0, F.lit(1.0))
            .otherwise(norm_col(F.col("embedding")))
            .alias("nrm"),
        )
        # checkpoint: materializes the bounded admitted slice AND
        # severs its lineage from ``embn`` so the cogroup below does
        # not see the same attribute ids on both sides
        kept_e = admitted.join(embn, "vec_id").localCheckpoint(eager=True)
        dropped = assigned.join(
            admitted.select("vec_id"), "vec_id", "left_anti"
        ).join(embn, "vec_id")
        # both checks in ONE per-cluster GEMM cogroup — the former
        # kept×kept self-join + dropped×kept left join serialized
        # their quadratic HOF work into k hot tasks (round 14; see
        # similarity._semdedup_check_counts, guide §2.3/§4)
        from ..ops.similarity import _semdedup_check_counts

        viol1, viol2 = _semdedup_check_counts(
            kept_e, dropped, threshold, tol
        )
        n_vecs = (
            load_embeddings(spark, sf_dir)
            .filter(F.col("vec_id").isNotNull())
            .count()
        )
        return spark.createDataFrame(
            [(int(n_vecs), int(viol1), int(viol2))],
            "n_vecs bigint, n_kept_pair_violations bigint,"
            " n_dropped_uncovered bigint",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def dsir_replay_contract(
    spark: SparkSession, sf_dir: str, threshold: float = 0.0
) -> DataFrame:
    """Replay the documents table through the STATELESS DSIR admission
    gate (frozen hashed log-ratio model, trained by the real batch
    trainer on lang='fr' as the target slice) and diff the admitted
    rows against a batch scoring pass built from the same broadcast
    model and the same Arrow scorer — the stream side differs only in
    running over the durable log through Structured Streaming, so
    (doc_id, rounded weight, n_tokens) must agree row-for-row:
    mismatch counters are deterministically zero."""
    from ..ops.util import stable_round
    from .dsir import dsir_admit_stream, train_dsir_model

    tmp = tempfile.mkdtemp(prefix="bn_dsir_replay_")
    qname = f"dsir_replay_{uuid.uuid4().hex[:12]}"
    try:
        db = BasenineDB(spark, path=f"{tmp}/store")
        docs = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id").isNotNull() & F.col("text").isNotNull()
        )
        n_in = _ingest(db,
            docs.select(
                F.to_json(F.struct(F.col("doc_id"), F.col("text"))).alias(
                    "j"
                )
            ).orderBy("j")
        )
        model = train_dsir_model(
            docs, F.col("lang") == "fr", n_buckets=4096
        )
        with _stream_partitions(spark, n_in):
            sq = dsir_admit_stream(
                db, model, threshold=threshold, query_name=qname
            )
            try:
                sq.processAllAvailable()
            finally:
                sq.stop()
        stream_rows = spark.sql(
            f"SELECT doc_id, dsir_weight, n_tokens FROM {qname}"
        ).localCheckpoint(eager=True)

        # batch twin of the scoring pass: same bucket expression, same
        # broadcast model, same Arrow mean — over the table instead of
        # the replayed log
        from pyspark.sql.functions import pandas_udf

        n_buckets = len(model)
        bc = spark.sparkContext.broadcast(model)

        @pandas_udf("double")
        def mean_lw(buckets: pd.Series) -> pd.Series:
            import numpy as np

            m = np.asarray(bc.value)

            def score(bs):
                return float(np.mean(m[np.asarray(bs, dtype=np.int64)]))

            return buckets.map(score)

        batch_rows = (
            docs.select(
                "doc_id",
                F.expr(
                    "transform(filter(split(text, ' '), t -> t != ''),"
                    f" t -> pmod(xxhash64(t), {n_buckets}))"
                ).alias("buckets"),
            )
            .filter(F.size("buckets") > 0)
            .select(
                "doc_id",
                stable_round(mean_lw("buckets"), 6).alias("dsir_weight"),
                F.size("buckets").cast("bigint").alias("n_tokens"),
            )
            .filter(F.col("dsir_weight") >= threshold)
        )
        s, bt = stream_rows.alias("s"), batch_rows.alias("b")
        diff = s.join(
            bt,
            (F.col("s.doc_id") == F.col("b.doc_id"))
            & (F.col("s.dsir_weight") == F.col("b.dsir_weight"))
            & (F.col("s.n_tokens") == F.col("b.n_tokens")),
            "full_outer",
        ).filter(
            F.col("s.doc_id").isNull() | F.col("b.doc_id").isNull()
        )
        n_mismatch = diff.count()
        return spark.createDataFrame(
            [(int(docs.count()), int(n_mismatch))],
            "n_docs bigint, n_mismatch bigint",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def anomaly_replay_contract(
    spark: SparkSession,
    sf_dir: str,
    z_threshold: float = 3.0,
    min_n: int = 10,
) -> DataFrame:
    """Replay the events table through the ONLINE Welford outlier
    stream (id-sorted ingest, so the fold order is the event_id order
    on every path) and diff the flagged set against a single-pass
    batch recompute of the identical per-key expanding fold. The
    streaming state carries exact doubles between micro-batches, so
    the two folds are bit-identical whatever the batch boundaries —
    the flagged (event_id, zscore) sets match exactly."""
    from .anomaly import anomaly_stream

    tmp = tempfile.mkdtemp(prefix="bn_anom_replay_")
    qname = f"anom_replay_{uuid.uuid4().hex[:12]}"
    try:
        db = BasenineDB(spark, path=f"{tmp}/store")
        ev = load_table(spark, sf_dir, "events").filter(
            F.col("event_id").isNotNull()
        )
        n_in = _ingest(db,
            ev.orderBy("event_id").select(
                F.to_json(
                    F.struct(
                        F.col("event_id"),
                        F.col("event_type"),
                        F.col("value"),
                    )
                ).alias("j")
            )
        )
        with _stream_partitions(spark, n_in):
            sq = anomaly_stream(
                db,
                z_threshold=z_threshold,
                min_n=min_n,
                query_name=qname,
                checkpoint=f"{tmp}/ckpt",
            )
            try:
                sq.processAllAvailable()
            finally:
                sq.stop()
        stream_rows = spark.sql(
            f"SELECT event_id, event_type, zscore FROM {qname}"
        ).localCheckpoint(eager=True)

        # batch twin: the same leak-free expanding Welford fold, one
        # pandas group per event_type key (arithmetic identical to the
        # streaming fold's, including the native round on the emitted
        # z — both sides of THIS comparison, never a DuckDB side)
        def fold(pdf: pd.DataFrame) -> pd.DataFrame:
            rows = [
                (int(e), float(v))
                for e, v in zip(pdf["event_id"], pdf["value"])
                if pd.notna(e) and pd.notna(v)
            ]
            rows.sort()
            n, mean, m2 = 0, 0.0, 0.0
            out = []
            for eid, val in rows:
                if n >= min_n:
                    var = m2 / (n - 1) if n > 1 else 0.0
                    if var > 0:
                        z = (val - mean) / var**0.5
                        if abs(z) >= z_threshold:
                            out.append(
                                (eid, pdf["event_type"].iloc[0], round(z, 4))
                            )
                n += 1
                d = val - mean
                mean += d / n
                m2 += d * (val - mean)
            return pd.DataFrame(
                out, columns=["event_id", "event_type", "zscore"]
            )

        batch_rows = (
            ev.select("event_id", "event_type", "value")
            # anomaly_stream's own null policy: event_type (and
            # event_id/value, which the fold drops anyway) are
            # null-filtered BEFORE the stateful stage — mirror it
            .filter(F.col("event_type").isNotNull())
            .groupBy("event_type")
            .applyInPandas(
                fold, "event_id long, event_type string, zscore double"
            )
        )
        s, bt = stream_rows.alias("s"), batch_rows.alias("b")
        diff = s.join(
            bt,
            (F.col("s.event_id") == F.col("b.event_id"))
            & (F.col("s.zscore") == F.col("b.zscore")),
            "full_outer",
        ).filter(
            F.col("s.event_id").isNull() | F.col("b.event_id").isNull()
        )
        n_mismatch = diff.count()
        return spark.createDataFrame(
            [(int(ev.count()), int(n_mismatch))],
            "n_events bigint, n_mismatch bigint",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def blocklist_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the documents table through the STATELESS blocklist
    gate (lexical axis: 3-gram Jaccard against a deterministic
    blocklist slice — every 37th doc). No keyed state, so the hit set
    is trivially batching-invariant; the oracle recomputes the same
    Jaccard from string trigrams (the hashed-vs-string shingle
    equivalence the PPJoin oracle established). Dense gating is
    pytest-pinned (the documents table carries no embeddings)."""
    from .blocklist import blocklist_gate_stream

    tmp = tempfile.mkdtemp(prefix="bn_blk_replay_")
    qname = f"blk_replay_{uuid.uuid4().hex[:12]}"
    try:
        db = BasenineDB(spark, path=f"{tmp}/store")
        docs = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id").isNotNull() & F.col("text").isNotNull()
        )
        n_in = _ingest(db,
            docs.select(
                F.to_json(F.struct(F.col("doc_id"), F.col("text"))).alias(
                    "j"
                )
            ).orderBy("j")
        )
        block = docs.filter(F.col("doc_id") % 37 == 0).select(
            F.col("doc_id").alias("block_id"),
            "text",
            F.lit(None).cast("array<float>").alias("embedding"),
        )
        with _stream_partitions(spark, n_in):
            sq = blocklist_gate_stream(
                db,
                block,
                tau_cos=0.9,
                tau_jac=0.5,
                n=3,
                query_name=qname,
            )
            try:
                sq.processAllAvailable()
            finally:
                sq.stop()
        return spark.sql(
            f"""
            SELECT doc_id, block_id, jaccard
            FROM {qname} WHERE hit_lexical
            ORDER BY doc_id, block_id
            """
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def funnel_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the events table through the order-tolerant streaming
    funnel at ``order_tolerance_ms=0`` (every event folds the moment
    its batch lands — nothing is ever buffered, so no quiescence
    timeout is ever registered per key). Under
    time-sorted ingest the greedy fold in event-time order IS the
    chained-min derivation, so the emitted (user, step, ts) set equals
    the batch funnel oracle, one row per filled step."""
    from .funnel import funnel_stream

    tmp = tempfile.mkdtemp(prefix="bn_funnel_replay_")
    qname = f"funnel_replay_{uuid.uuid4().hex[:12]}"
    try:
        db = BasenineDB(spark, path=f"{tmp}/store")
        ev = _events_json(
            spark,
            sf_dir,
            {"user_id": "user_id", "event_type": "event_type",
             "ts_ms": "ts_ms"},
            require=("user_id",),
        )
        n_ingested = _ingest(db, ev)
        with _stream_partitions(spark, n_ingested):
            sq = funnel_stream(
                db,
                steps=("view", "click", "purchase"),
                query_name=qname,
                checkpoint=f"{tmp}/ckpt",
                order_tolerance_ms=0,
            )
            try:
                # the ProcessingTimeTimeout MODE alone keeps the engine
                # in the no-data cleanup-commit loop even though
                # tolerance=0 never registers a per-key timeout — drain
                # by input-row accounting, as in sessions_replay
                _drain_stateful(sq, expected_rows=n_ingested)
            finally:
                sq.stop()
        return spark.sql(
            f"""
            SELECT user_id, step_idx, ts_ms
            FROM {qname} ORDER BY user_id, step_idx
            """
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def exposure_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the events table through the grid-decomposed
    stream-stream incident-exposure join (every activity within ±5
    minutes of an error, cross-user) and return the pair multiset
    projected to (error_ms, act_user, act_ms). The grid decomposition
    guarantees each pair matches on exactly one cell, so multiplicity
    equals the batch range join's."""
    from .exposure import incident_exposure_stream

    tmp = tempfile.mkdtemp(prefix="bn_expo_replay_")
    qname = f"expo_replay_{uuid.uuid4().hex[:12]}"
    try:
        from ..ops.util import timed_phase

        db = BasenineDB(spark, path=f"{tmp}/store")
        ev = _events_json(
            spark,
            sf_dir,
            {"user": "user_id", "event_type": "event_type",
             "ts_ms": "ts_ms"},
        )
        # phase split (bench budgets): "ingest" is the harness loading
        # the corpus into a durable log; "stream" is the production
        # stream-stream join run to exhaustion
        n_in = _ingest(db, ev)
        with timed_phase("stream"), _stream_partitions(spark, n_in):
            sq = incident_exposure_stream(
                db,
                pad_minutes=5,
                grid_minutes=10,
                watermark="10 minutes",
                query_name=qname,
                checkpoint=f"{tmp}/ckpt",
            )
            try:
                sq.processAllAvailable()
            finally:
                sq.stop()
            return spark.sql(
                f"""
                SELECT error_ms,
                       CAST(act_user AS BIGINT) AS act_user,
                       act_ms
                FROM {qname}
                ORDER BY error_ms, act_user, act_ms
                """
            ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def sentence_scrub_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the documents table through the ONLINE keep-first
    sentence scrub and return one md5(lower(sentence)) key per
    admitted sentence. Oracle: DISTINCT keys of the batch sentence
    split (the stream admits each key exactly once within the horizon
    — a double emission would change the row count)."""
    from .sentences import sentence_scrub_stream

    tmp = tempfile.mkdtemp(prefix="bn_sentscrub_replay_")
    qname = f"sentscrub_replay_{uuid.uuid4().hex[:12]}"
    try:
        db = BasenineDB(spark, path=f"{tmp}/store")
        docs = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
            .select(
                F.to_json(
                    F.struct(F.col("doc_id"), F.col("text"))
                ).alias("j")
            )
            .orderBy("j")
        )
        n_in = _ingest(db, docs)
        with _stream_partitions(spark, n_in):
            sq = sentence_scrub_stream(
                db,
                horizon_seconds=86_400,  # covers any replay wall-clock
                query_name=qname,
                checkpoint=f"{tmp}/ckpt",
            )
            try:
                sq.processAllAvailable()
            finally:
                sq.stop()
        return spark.sql(
            f"""
            SELECT md5(lower(sentence)) AS sent_key
            FROM {qname} ORDER BY sent_key
            """
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
