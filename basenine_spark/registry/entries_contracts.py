"""Round-11+ verified-twin contract rows -- split from the monolithic registry.py (round 12);
registration ORDER is load-bearing (the driver window is the first
50 iteration-order entries) and is preserved by the import sequence
in __init__.py."""


from ..ops import (
    bpe,
    dedup,
    graph,
    layout,
    multimodal,
    quality_model,
    relational,
    similarity,
    text,
)
from ..streaming import replay as streaming_replay

from ._core import ORACLES, QueryFn, SPARK_QUERIES, _register  # noqa: F401
from .entries_curation import _SENTENCES_CTE  # noqa: F401

# ---------------------------------------------------------------------------
# Round-11 verified-twin contract rows (VERDICT r10 next-round #1-#3):
# the approximate ANN family, the multimodal decoders, and two
# streaming twins produce driver-checkable rows for the first time.
# ---------------------------------------------------------------------------

# Ballast the oracles recompute: valid query vectors / valid embedding
# rows (mirrors similarity.load_embeddings' degenerate-row filter).
_ANN_NQ_SQL = """(SELECT count(*) FROM embeddings
            WHERE vec_id < 10 AND embedding IS NOT NULL
              AND len(embedding) > 0)"""
_ANN_CONTRACT_SQL = f"""
    SELECT {_ANN_NQ_SQL} AS n_queries,
           CAST(0 AS BIGINT) AS recall_violations,
           CAST(0 AS BIGINT) AS order_violations,
           CAST(0 AS BIGINT) AS sim_mismatches
"""

# Floors sit ≥0.08 under the recall measured this round on ALL of:
# the sf0.01 driver corpus, the emb-fuzz degenerate corpus, and sf0.1
# (bench scale). Measured (sf0.01 / emb-fuzz / sf0.1): lsh 0.90 /
# 0.857 / 0.88; ivf 0.38 / 0.486 / 0.54; pq 0.84 / 0.857 / 0.76;
# ivfpq 0.64 / 0.543 / 0.68. The tight per-method gates stay in
# tests/test_similarity_ops.py — these rows pin "recall never
# COLLAPSES" as a driver-checked contract, plus ranking discipline and
# (lsh/ivf: exact-scored candidates) per-sim bit-equality.
for _m, _floor in (("lsh", 0.75), ("ivf", 0.30), ("pq", 0.65), ("ivfpq", 0.45)):
    _register(
        f"ann_topk_{_m}_verified",
        (lambda m, fl: lambda s, d: similarity.ann_recall_contract(
            s, d, m, recall_floor=fl
        ))(_m, _floor),
        _ANN_CONTRACT_SQL,
    )

_register(
    "knn_graph_verified",
    # same 24x5 calibration as the registered knn_graph entry; floor
    # 0.75 sits ≥0.11 under the recall measured this round on all
    # three corpora (0.872 sf0.01 / 0.868 emb-fuzz / 0.904 sf0.1)
    lambda s, d: similarity.knn_graph_contract(s, d, recall_floor=0.75),
    """
    SELECT (SELECT count(*) FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) > 0)
             AS n_nodes,
           CAST(0 AS BIGINT) AS recall_violations,
           CAST(0 AS BIGINT) AS order_violations,
           CAST(0 AS BIGINT) AS sim_mismatches
    """,
)

_register(
    "multimodal_wav_verified",
    multimodal.wav_roundtrip_verified,
    # the REAL RIFF/WAVE decode path diffed field-for-field against an
    # independent recomputation from the deterministic synth params
    # (PCM16 quantization included, container bytes bypassed) — the
    # first driver-checked multimodal row in any round
    """
    SELECT (SELECT count(*) FROM documents WHERE doc_id % 3 = 0)
             AS n_payloads,
           CAST(0 AS BIGINT) AS n_decode_fail,
           CAST(0 AS BIGINT) AS n_mismatch
    """,
)

_register(
    "multimodal_image_verified",
    multimodal.image_roundtrip_verified,
    # BMP and PNG containers alternate per doc; both decode through
    # the real stdlib codecs and must reproduce the gradient formula
    """
    SELECT (SELECT count(*) FROM documents WHERE doc_id % 3 = 1)
             AS n_payloads,
           CAST(0 AS BIGINT) AS n_decode_fail,
           CAST(0 AS BIGINT) AS n_mismatch
    """,
)

_register(
    "streaming_kanon_replay",
    lambda s, d: streaming_replay.kanon_replay(s, d),
    # full corpus replayed through the ONLINE k-anonymity gate (real
    # Structured Streaming query, real ingest path); the released SET
    # is batching-invariant: exactly the rows whose level-1 QI group
    # total reaches k=20 (released_at_n is batch-dependent and
    # projected away) — first driver row for any streaming twin
    """
    WITH ev AS (
      SELECT event_id, coalesce(event_type, '(null)') AS qi_type,
             coalesce(CAST(FLOOR(epoch_ms(ts) / 3600000.0) AS BIGINT)
                      % 24, -1) AS qi_hour,
             coalesce(CAST(FLOOR(value / 10.0) AS BIGINT), -1) AS qi_band
      FROM events WHERE event_id IS NOT NULL
    ), g AS (
      SELECT qi_type, qi_hour, qi_band, count(*) AS n
      FROM ev GROUP BY qi_type, qi_hour, qi_band
    )
    SELECT e.event_id, e.qi_type, e.qi_hour, e.qi_band
    FROM ev e JOIN g USING (qi_type, qi_hour, qi_band)
    WHERE g.n >= 20 ORDER BY e.event_id
    """,
)

_register(
    "dedup_simhash_verified",
    lambda s, d: dedup.simhash_contract(s, d),
    # hash exactness vs an explode-free HOF recomputation + pigeonhole
    # recall (hamming<=3 pairs MUST appear — the 4x16 banding
    # guarantee) vs a brute-force scan over the bounded hash table
    """
    SELECT (SELECT count(*) FROM documents WHERE text IS NOT NULL)
             AS n_docs,
           CAST(0 AS BIGINT) AS n_hash_mismatch,
           CAST(0 AS BIGINT) AS n_pigeonhole_missed
    """,
)

_register(
    "embedding_near_dup_verified",
    lambda s, d: similarity.embedding_near_dup_contract(s, d),
    # precision is exact by construction (verified cosine >= threshold,
    # sims re-derived from raw vectors); exact-duplicate recall is
    # total (identical vectors co-bucket in every SRP table — the
    # emb-fuzz corpus plants the duplicates that exercise it)
    f"""
    SELECT (SELECT count(*) FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) > 0)
             AS n_vecs,
           CAST(0 AS BIGINT) AS n_precision_violations,
           CAST(0 AS BIGINT) AS n_dup_pairs_missed
    """,
)

_register(
    "embed_clusters_verified",
    lambda s, d: similarity.embed_clusters_contract(s, d),
    # every k-means assignment must be the argmin over the centroid
    # set with the emitted distance, recomputed through JVM HOF
    # expressions (a different accumulation path than the numpy
    # assignment)
    """
    SELECT (SELECT count(*) FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) > 0)
             AS n_vecs,
           CAST(0 AS BIGINT) AS n_argmin_violations,
           CAST(0 AS BIGINT) AS n_dist_mismatch
    """,
)

_register(
    "sample_kcenter_verified",
    lambda s, d: similarity.kcenter_parity_contract(s, d),
    # the dim-adaptive center-shipping rewrite (literal vs broadcast
    # path) must select identical (rank, vec_id, dist) sequences —
    # full-outer diff empty, the ann_index_persisted pattern
    """
    SELECT (SELECT count(*) FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) > 0)
             AS n_vecs,
           CAST(0 AS BIGINT) AS row_delta,
           CAST(0 AS BIGINT) AS n_mismatch
    """,
)

_register(
    "dedup_semantic_verified",
    lambda s, d: similarity.semantic_dedup_contract(s, d),
    # SemDeDup's two defining invariants over a recomputed cluster
    # assignment: kept vectors mutually below the threshold within a
    # cluster, every dropped vector covered by an earlier kept witness
    """
    SELECT (SELECT count(*) FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) > 0)
             AS n_vecs,
           CAST(0 AS BIGINT) AS n_kept_pair_violations,
           CAST(0 AS BIGINT) AS n_dropped_uncovered
    """,
)

_register(
    "multimodal_phash_verified",
    multimodal.phash_roundtrip_verified,
    # the perceptual hash of every container-decoded image equals the
    # pHash of the synth-formula pixels — pixel-exact decode feeding
    # the banded Hamming near-dup join
    """
    SELECT (SELECT count(*) FROM documents WHERE doc_id % 3 = 1)
             AS n_payloads,
           CAST(0 AS BIGINT) AS n_decode_fail,
           CAST(0 AS BIGINT) AS n_mismatch
    """,
)

_register(
    "multimodal_spectral_verified",
    multimodal.spectral_roundtrip_verified,
    # the Hann/rfft spectral profile of every container-decoded WAV
    # equals the profile of the formula-regenerated signal — the
    # decode feeding the spectrogram/audio-fingerprint is sample-exact
    """
    SELECT (SELECT count(*) FROM documents WHERE doc_id % 3 = 0)
             AS n_payloads,
           CAST(0 AS BIGINT) AS n_decode_fail,
           CAST(0 AS BIGINT) AS n_mismatch
    """,
)

_register(
    "text_bpe_verified",
    lambda s, d: bpe.bpe_roundtrip_contract(s, d),
    # BPE losslessness over every distinct corpus word: the greedy
    # encode must concatenate back to the word with a token count in
    # [1, len(word)] — the merge table and Arrow encode path are the
    # ones bpe_token_counts ships
    """
    SELECT (SELECT count(DISTINCT w) FROM (
              SELECT unnest(string_split(text, ' ')) AS w
              FROM documents WHERE text IS NOT NULL) t
            WHERE w <> '') AS n_distinct_words,
           CAST(0 AS BIGINT) AS n_lossless_violations,
           CAST(0 AS BIGINT) AS n_bound_violations
    """,
)

_register(
    "streaming_sentences_replay",
    lambda s, d: streaming_replay.sentence_scrub_replay(s, d),
    # full corpus replayed through the ONLINE keep-first sentence
    # scrub; the admitted KEY set (md5 of the case-folded sentence) is
    # batching-invariant and equals the batch scrub's distinct keys —
    # one output row per admission also pins exactly-once emission
    f"""
    WITH {_SENTENCES_CTE}
    SELECT DISTINCT md5(lower(sentence)) AS sent_key
    FROM s ORDER BY sent_key
    """,
)

_register(
    "streaming_dedup_replay",
    lambda s, d: streaming_replay.dedup_replay(s, d),
    # full corpus replayed through the watermarked exact-dedup stream
    # (dropDuplicatesWithinWatermark on md5(text), horizon covering
    # the replay); the admitted key set equals DISTINCT md5(text) and
    # one row per admission pins exactly-once emission
    """
    SELECT DISTINCT md5(text) AS content_key FROM documents
    WHERE doc_id IS NOT NULL AND text IS NOT NULL ORDER BY content_key
    """,
)

_register(
    "streaming_windows_replay",
    lambda s, d: streaming_replay.windows_replay(s, d),
    # watermarked tumbling-window counts replayed to exhaustion;
    # update-mode refreshes are monotone per group so the final
    # (max) count per hour window equals the batch rollup — the
    # time-sorted ingest means the watermark never drops a row
    """
    SELECT CAST(FLOOR(epoch_ms(ts) / 3600000.0) AS BIGINT) * 3600000
             AS window_start_ms,
           coalesce(event_type, '(null)') AS event_type,
           count(*) AS cnt
    FROM events WHERE event_id IS NOT NULL AND ts IS NOT NULL
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)

_register(
    "streaming_source_cap_replay",
    lambda s, d: streaming_replay.source_cap_replay(s, d),
    # online per-source admission cap: WHICH docs are admitted is
    # batch-boundary-dependent, but the per-source admitted count and
    # the contiguous rank sequence 1..n are invariant — all three
    # projections must equal least(total, cap)
    """
    SELECT source,
           LEAST(count(*), 10) AS n_admitted,
           LEAST(count(*), 10) AS max_rank,
           LEAST(count(*), 10) AS n_ranks
    FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL
    GROUP BY source ORDER BY source
    """,
)

_register(
    "streaming_rfm_replay",
    lambda s, d: streaming_replay.rfm_replay(s, d),
    # online RFM run to exhaustion; the highest-frequency emission per
    # user is the final one and must equal the batch per-user
    # aggregate (metrics-only mode; monetary re-rounded through the
    # engine-stable idiom on both sides)
    """
    SELECT user_id,
           max(epoch_ms(ts)) AS recency_ms,
           count(*) AS frequency,
           round(round(sum(coalesce(value, 0)), 4), 4) AS monetary
    FROM events
    WHERE event_id IS NOT NULL AND ts IS NOT NULL
      AND user_id IS NOT NULL
    GROUP BY user_id ORDER BY user_id
    """,
)

_register(
    "streaming_sessions_replay",
    lambda s, d: streaming_replay.sessions_replay(s, d),
    # stateful gap sessionization replayed to exhaustion: the CLOSED
    # set (sessions superseded by a later out-of-gap event) is
    # batching-invariant under time-sorted ingest; each user's final
    # session stays open in state, so the oracle is the batch
    # sessionization minus each user's last session
    """
    WITH e AS (
      SELECT user_id, epoch_ms(ts) AS ts_ms FROM events
      WHERE event_id IS NOT NULL AND ts IS NOT NULL
        AND user_id IS NOT NULL
    ), o AS (
      SELECT user_id, ts_ms,
             CASE WHEN ts_ms - lag(ts_ms) OVER
                    (PARTITION BY user_id ORDER BY ts_ms) > 1800000
                  THEN 1 ELSE 0 END AS brk
      FROM e
    ), s AS (
      SELECT user_id, ts_ms,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_ms
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    ), g AS (
      SELECT user_id, sid,
             min(ts_ms) AS session_start_ms,
             max(ts_ms) AS session_end_ms,
             count(*) AS n_events
      FROM s GROUP BY user_id, sid
    )
    SELECT user_id, session_start_ms, session_end_ms, n_events
    FROM (SELECT g.*, row_number() OVER
            (PARTITION BY user_id ORDER BY sid DESC) AS rn FROM g)
    WHERE rn > 1
    ORDER BY user_id, session_start_ms
    """,
)

_register(
    "streaming_quality_replay",
    lambda s, d: streaming_replay.quality_monitor_replay(s, d),
    # windowed data-quality monitor replayed to exhaustion: final
    # (max) counters per hour window equal the batch conditional
    # sums; NULL predicate results count as violations on both sides
    """
    SELECT CAST(FLOOR(epoch_ms(ts) / 3600000.0) AS BIGINT) * 3600000
             AS window_start_ms,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN value >= 0 THEN 0 ELSE 1 END) AS BIGINT)
             AS v_value,
           CAST(sum(CASE WHEN event_type IN
                      ('click','view','purchase','signup','error')
                    THEN 0 ELSE 1 END) AS BIGINT) AS v_type
    FROM events WHERE event_id IS NOT NULL AND ts IS NOT NULL
    GROUP BY 1 ORDER BY 1
    """,
)

_register(
    "streaming_asof_replay",
    lambda s, d: streaming_replay.asof_replay(s, d),
    # stream-stream attribution join (purchases x same-user clicks in
    # a 30-minute lookback) replayed to exhaustion; the emitted pair
    # multiset projected to (user, purchase_ms, click_ms) equals the
    # batch range join — time-sorted ingest keeps every candidate
    # click inside the join state when its purchase arrives
    """
    SELECT p.user_id AS purchase_user,
           epoch_ms(p.ts) AS purchase_ms,
           epoch_ms(c.ts) AS click_ms
    FROM events p JOIN events c
      ON c.user_id = p.user_id
     AND epoch_ms(c.ts) BETWEEN epoch_ms(p.ts) - 1800000
                            AND epoch_ms(p.ts)
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      AND p.event_id IS NOT NULL AND p.ts IS NOT NULL
      AND c.event_id IS NOT NULL AND c.ts IS NOT NULL
    ORDER BY purchase_user, purchase_ms, click_ms
    """,
)

_register(
    "streaming_exposure_replay",
    lambda s, d: streaming_replay.exposure_replay(s, d),
    # grid-decomposed cross-user incident-exposure stream-stream join
    # replayed to exhaustion; each pair matches on exactly one grid
    # cell so the emitted multiset equals the batch range join
    """
    SELECT epoch_ms(e.ts) AS error_ms,
           a.user_id AS act_user,
           epoch_ms(a.ts) AS act_ms
    FROM events e JOIN events a
      ON a.event_type <> 'error'
     AND epoch_ms(a.ts) BETWEEN epoch_ms(e.ts) - 300000
                            AND epoch_ms(e.ts) + 300000
    WHERE e.event_type = 'error'
      AND e.event_id IS NOT NULL AND e.ts IS NOT NULL
      AND a.event_id IS NOT NULL AND a.ts IS NOT NULL
    ORDER BY error_ms, act_user, act_ms
    """,
)

_register(
    "streaming_blocklist_replay",
    lambda s, d: streaming_replay.blocklist_replay(s, d),
    # STATELESS blocklist gate (lexical axis) replayed over the full
    # corpus: 3-gram Jaccard against every 37th document as the
    # blocklist; the hit-pair set is trivially batching-invariant and
    # the oracle recomputes the same Jaccard from string trigrams (the
    # hashed-vs-string shingle equivalence the PPJoin oracle
    # established); the raw-ratio threshold is applied identically on
    # both sides, the emitted value through the stable idiom
    """
    WITH t AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3
               THEN list_transform(range(1, len(toks) - 1),
                    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
               ELSE [] END) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
            WHERE doc_id IS NOT NULL AND text IS NOT NULL)
    ), b AS (
      SELECT doc_id AS block_id, sh AS bsh FROM t WHERE doc_id % 37 = 0
    ), pairs AS (
      SELECT t.doc_id, b.block_id,
             CAST(len(list_intersect(t.sh, b.bsh)) AS DOUBLE) AS inter,
             CAST(len(t.sh) + len(b.bsh)
                  - len(list_intersect(t.sh, b.bsh)) AS DOUBLE) AS uni
      FROM t, b
    )
    SELECT doc_id, block_id,
           FLOOR(inter / uni * 1e6 + 0.5) / 1e6 AS jaccard
    FROM pairs WHERE uni > 0 AND inter / uni >= 0.5
    ORDER BY doc_id, block_id
    """,
)

_register(
    "streaming_funnel_replay",
    lambda s, d: streaming_replay.funnel_replay(s, d),
    # order-tolerant streaming funnel at tolerance=0 over time-sorted
    # ingest: the greedy event-time fold IS the chained-min derivation,
    # so the emitted (user, step, ts) set equals the batch funnel
    # oracle in long form — each step row emitted exactly once
    """
    WITH ev AS (
      SELECT user_id, event_type, epoch_ms(ts) AS ts_ms
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_id IS NOT NULL
    ), s1 AS (SELECT user_id, min(ts_ms) AS ms FROM ev
              WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.ts_ms) AS ms FROM ev e
           JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts_ms > s1.ms
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.ts_ms) AS ms FROM ev e
           JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts_ms > s2.ms
           GROUP BY e.user_id)
    SELECT user_id, 0 AS step_idx, ms AS ts_ms FROM s1
    UNION ALL SELECT user_id, 1, ms FROM s2
    UNION ALL SELECT user_id, 2, ms FROM s3
    ORDER BY user_id, step_idx
    """,
)

_register(
    "streaming_semdedup_replay",
    lambda s, d: streaming_replay.semdedup_replay_contract(s, d),
    # online SemDeDup admission replayed over the embeddings corpus,
    # then the admitted set checked against the algorithm's two
    # defining invariants (mutual dissimilarity of admitted vectors,
    # earlier-witness coverage of every dropped vector) — the same
    # implementation-independent checks dedup_semantic_verified runs
    # for the batch op, so they hold across any micro-batching
    """
    SELECT (SELECT count(*) FROM embeddings
            WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
              AND len(embedding) > 0) AS n_vecs,
           CAST(0 AS BIGINT) AS n_kept_pair_violations,
           CAST(0 AS BIGINT) AS n_dropped_uncovered
    """,
)

_register(
    "streaming_dsir_replay",
    lambda s, d: streaming_replay.dsir_replay_contract(s, d),
    # stateless DSIR admission gate (frozen hashed model from the real
    # trainer) replayed over the document log, then diffed row-for-row
    # against a batch scoring pass built from the same broadcast model
    # and Arrow scorer — admitted (doc_id, weight, n_tokens) agree
    # exactly, so the mismatch counter is deterministically zero
    """
    SELECT (SELECT count(*) FROM documents
            WHERE doc_id IS NOT NULL AND text IS NOT NULL) AS n_docs,
           CAST(0 AS BIGINT) AS n_mismatch
    """,
)

_register(
    "streaming_anomaly_replay",
    lambda s, d: streaming_replay.anomaly_replay_contract(s, d),
    # online expanding-Welford outlier stream (id-sorted ingest fixes
    # the fold order) diffed against a single-pass batch recompute of
    # the identical per-key fold: streaming state carries exact
    # doubles between micro-batches, so the flagged (event_id, zscore)
    # sets are bit-identical whatever the batch boundaries
    """
    SELECT (SELECT count(*) FROM events WHERE event_id IS NOT NULL)
             AS n_events,
           CAST(0 AS BIGINT) AS n_mismatch
    """,
)

_register(
    "knn_pagerank_verified",
    lambda s, d: graph.pagerank_contract(s, d),
    # the distributed PageRank (dangling mass in-dataflow, per-round
    # localCheckpoint) diffed rank-for-rank against an independent
    # driver-side numpy power iteration over the bounded collected
    # edge list (N*k rows — the count-gated-collect class); per-
    # iteration mass conservation also pinned
    """
    SELECT (SELECT count(*) FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) > 0)
             AS n_vecs,
           CAST(0 AS BIGINT) AS n_mass_violations,
           CAST(0 AS BIGINT) AS n_rank_mismatch
    """,
)

_register(
    "layout_zorder_verified",
    lambda s, d: layout.zorder_contract(s, d),
    # Morton construction inverted bit-by-bit (extraction vs
    # construction expression paths) over every row, and a real
    # zorder_write checked for pruning SOUNDNESS: no row inside the
    # benchmark box may live in a footer-skipped file
    """
    SELECT (SELECT count(*) FROM events
            WHERE user_id IS NOT NULL AND value IS NOT NULL)
             AS n_rows,
           CAST(0 AS BIGINT) AS n_bit_violations,
           CAST(0 AS BIGINT) AS n_rows_in_skipped_files
    """,
)

_register(
    "embedding_triplets_verified",
    lambda s, d: similarity.triplets_contract(s, d),
    # every emitted triplet re-derived in place: the closed-form
    # xxhash64 negative draw, the drop-not-redraw exclusion set, kNN
    # edge provenance with the exact stable-rounded cosine for
    # pos_sim, and the neg_sim recomputation from raw vectors
    """
    SELECT (SELECT count(*) FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) > 0)
             AS n_vecs,
           CAST(0 AS BIGINT) AS n_formula_violations,
           CAST(0 AS BIGINT) AS n_exclusion_violations,
           CAST(0 AS BIGINT) AS n_pos_violations,
           CAST(0 AS BIGINT) AS n_neg_sim_mismatch
    """,
)

_register(
    "multimodal_hamming_verified",
    lambda s, d: multimodal.media_near_dup_contract(s, d),
    # the banded Hamming near-dup join over REAL decoded media (pHash
    # over BMP/PNG, spectral fingerprint over WAV) diffed pair-for-
    # pair INCLUDING distances against a brute-force bit_count(xor)
    # scan of the bounded fingerprint tables — pigeonhole recall is
    # exact at hamming <= 7, so both diff directions are empty
    """
    SELECT (SELECT count(*) FROM documents WHERE doc_id % 3 = 1)
             AS n_images,
           (SELECT count(*) FROM documents WHERE doc_id % 3 = 0)
             AS n_audio,
           CAST(0 AS BIGINT) AS img_missed,
           CAST(0 AS BIGINT) AS img_wrong,
           CAST(0 AS BIGINT) AS aud_missed,
           CAST(0 AS BIGINT) AS aud_wrong
    """,
)

_register(
    "text_normalized_verified",
    lambda s, d: text.normalized_dedup_contract(s, d),
    # NFKC+casefold dedup (no DuckDB twin exists — DuckDB lacks NFKC):
    # idempotence of the normalize pass on every document, md5-keyed
    # groups equal to a direct string-keyed group-by, and group counts
    # covering the corpus exactly
    """
    SELECT (SELECT count(*) FROM documents WHERE text IS NOT NULL)
             AS n_docs,
           CAST(0 AS BIGINT) AS n_idempotence_violations,
           CAST(0 AS BIGINT) AS n_group_mismatch,
           CAST(0 AS BIGINT) AS n_coverage_delta
    """,
)

_register(
    "text_fertility_verified",
    # num_merges=0 is the char-level fixed point of the BPE encode:
    # every word tokenizes to its code points, so the WHOLE fertility
    # pipeline (encode pass, doc join, source aggregate, stable
    # rounding) has an exact SQL twin — merge behavior above 0 is
    # pinned by text_bpe_verified (losslessness) + the pytest
    # monotonicity gates
    lambda s, d: bpe.tokenizer_fertility(s, d, num_merges=0),
    """
    WITH w AS (
      SELECT doc_id, source, strlen(text) AS n_bytes,
             list_filter(string_split(text, ' '), t -> t <> '') AS words
      FROM documents WHERE text IS NOT NULL
    ), per AS (
      SELECT doc_id, source, n_bytes,
             len(words) AS n_words,
             coalesce(list_sum(list_transform(words, t -> length(t))), 0)
               AS n_toks
      FROM w
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           CAST(sum(n_toks) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
           round(sum(n_toks) / CAST(sum(n_words) AS DOUBLE), 4)
             AS fertility,
           round(sum(n_bytes) / CAST(sum(n_toks) AS DOUBLE), 4)
             AS bytes_per_token
    FROM per GROUP BY source ORDER BY source
    """,
)

_register(
    "text_quality_verified",
    lambda s, d: quality_model.quality_scoring_contract(s, d),
    # the classifier's SCORING path pinned: every emitted probability
    # equals sigmoid(w . tf + b) recomputed from the trained
    # coefficients through a different substrate (broadcast numpy over
    # the sparse indices vs model.transform's MLlib vector dot); the
    # layout-sensitive TRAINING floats stay pytest territory (AUC
    # floor on a planted two-vocabulary corpus)
    """
    SELECT (SELECT count(*) FROM documents WHERE text IS NOT NULL)
             AS n_docs,
           CAST(0 AS BIGINT) AS n_score_mismatch
    """,
)

_register(
    "multimodal_asset_verified",
    lambda s, d: multimodal.asset_routing_contract(s, d),
    # asset_near_dup's UNIQUE content — modality routing and the text
    # star shape — pinned (its image/audio pair lists are diffed
    # against brute force by multimodal_hamming_verified): no pair
    # spans modalities, every text pair is a distance-0 edge to its
    # group's minimum doc_id, every fingerprint distance in bounds
    """
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           CAST(0 AS BIGINT) AS n_routing_violations,
           CAST(0 AS BIGINT) AS n_text_star_violations,
           CAST(0 AS BIGINT) AS n_bound_violations
    """,
)



# ---------------------------------------------------------------------------
# Round-12 additions: direct cross-engine hash-family twins + the IVF
# recall/probe operating curve
# ---------------------------------------------------------------------------

# MinHash with an md5-derived hash family: permutation i's token hash
# is the first 15 hex chars of md5(token || ':' || i) — identical in
# both engines — so the full signature construction (tokenize → hash
# family → per-doc grouped MIN) is value-hash-checked end-to-end. The
# xxhash64 production family's OUTPUT is already value-checked via the
# exact-Jaccard pair oracle (dedup_minhash_lsh); this row closes the
# signature-level gap the same way dedup_simhash_md5_pairs does for
# SimHash.
_MINHASH_MD5_COLS = ",\n      ".join(
    f"MIN(CAST(('0x' || substr(md5(t || ':{i}'),1,15)) AS BIGINT)) AS p{i}"
    for i in range(8)
)
_register(
    "dedup_minhash_md5_sigs",
    lambda s, d: dedup.minhash_md5_signatures(s, d, num_perm=8),
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id,
      {_MINHASH_MD5_COLS}
    FROM tok GROUP BY doc_id
    """,
)

# Round-13 (VERDICT r12 #5): the BANDING stage under the same md5
# twin discipline — band key = md5 of the comma-joined band slice of
# the md5-family signature, so the LSH candidate SET itself (not just
# the signatures feeding it) is value-hash-checked against a DuckDB
# recomputation of the identical algebra. 8 perms / 4 bands of 2.
_MINHASH_MD5_SIG_SQL = """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t
      FROM documents WHERE text IS NOT NULL
    ), sig AS (
      SELECT doc_id,
        {cols}
      FROM tok GROUP BY doc_id
    )""".format(cols=_MINHASH_MD5_COLS)
_register(
    "dedup_minhash_md5_bands",
    lambda s, d: dedup.minhash_md5_band_pairs(s, d, num_perm=8, bands=4),
    _MINHASH_MD5_SIG_SQL
    + """
    , banded AS (
    """
    + "\n      UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, "
        f"md5(CAST(p{2 * i} AS VARCHAR) || ',' || "
        f"CAST(p{2 * i + 1} AS VARCHAR)) AS bh FROM sig"
        for i in range(4)
    )
    + """
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a
    JOIN banded b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    """,
)

# Round-13: the Z-order layout's key construction as a direct value
# row — bounds, equal-width bucketize (identical IEEE double
# association both engines), and the 20-term Morton shift/mask
# interleave, all recomputed in DuckDB SQL. zorder_contract keeps the
# bit-inversion + pruning-soundness gates; this pins the bit algebra
# by value.
_MORTON_TERMS = " + ".join(
    f"((xb >> {i}) & 1) * {1 << (2 * i)} + "
    f"((yb >> {i}) & 1) * {1 << (2 * i + 1)}"
    for i in range(10)
)


def _bucketize_sql(v: str, lo: str, hi: str) -> str:
    return (
        f"CAST(least(greatest(CASE WHEN {hi} - {lo} <= 0 THEN 0 "
        f"ELSE floor(({v} - {lo}) / ({hi} - {lo}) * 1024) END, 0), "
        f"1023) AS BIGINT)"
    )


# Round-13: the frequent-items sketch in its exact regime — with
# per-group cardinality under min(k, maxItemsTracked) = 4096 (k bounds
# the returned set; maxItemsTracked, passed explicitly, is
# space-saving's count-exactness capacity) approx_top_k's output is
# the exact (group, key) multiset, so the sketch build/merge/extract
# dataflow hash-matches a plain GROUP BY (heavy_hitters_verified keeps
# the under-capacity contracts).
_register(
    "agg_heavy_hitters_exact_regime",
    lambda s, d: relational.heavy_hitters_full_capacity(s, d, k=4096),
    """
    SELECT event_type, user_id, count(*) AS cnt
    FROM events
    WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    GROUP BY event_type, user_id
    """,
)

# Round-13: the GK quantile sketch in its exact regime — accuracy at
# INT_MAX puts epsilon below 1/(2N), so percentile_approx returns the
# exact discrete quantile element and DuckDB's quantile_disc is a
# total-order oracle for the sketch build/merge/query dataflow
# (quantiles_verified keeps the under-accuracy rank-error contract).
_QS = (0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
_register(
    "agg_quantile_exact_regime",
    lambda s, d: relational.quantile_sketch_exact_regime(s, d, qs=_QS),
    "SELECT event_type, "
    + ", ".join(
        f"quantile_disc(value, {q}) AS q{int(q * 100)}" for q in _QS
    )
    + " FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL"
    " GROUP BY event_type",
)

_register(
    "layout_morton_keys",
    lambda s, d: layout.morton_keys(s, d, bits=10),
    f"""
    WITH src AS (
      SELECT event_id,
             CAST(user_id AS DOUBLE) AS x,
             CAST(value AS DOUBLE) AS y
      FROM events
      WHERE event_id IS NOT NULL AND user_id IS NOT NULL
        AND value IS NOT NULL
        AND NOT isnan(CAST(user_id AS DOUBLE))
        AND NOT isnan(CAST(value AS DOUBLE))
    ), b AS (
      SELECT min(x) AS x_lo, max(x) AS x_hi,
             min(y) AS y_lo, max(y) AS y_hi
      FROM src
    ), k AS (
      SELECT event_id,
             {_bucketize_sql('x', 'x_lo', 'x_hi')} AS xb,
             {_bucketize_sql('y', 'y_lo', 'y_hi')} AS yb
      FROM src, b
    )
    SELECT event_id, CAST({_MORTON_TERMS} AS BIGINT) AS zkey FROM k
    """,
)

# IVF recall-vs-probe operating curve (the similarity-family sibling
# of dedup_operating_curve): monotone-hits theorem + recall floor at
# the largest probe budget, ballast n_queries. Per-probe recall values
# are corpus diagnostics and live in pytest.
_register(
    "ann_ivf_curve_verified",
    lambda s, d: similarity.ann_ivf_operating_curve(s, d),
    f"""
    SELECT {_ANN_NQ_SQL} AS n_queries,
           CAST(0 AS BIGINT) AS n_monotonicity_violations,
           CAST(0 AS BIGINT) AS recall_violations
    """,
)


# ---------------------------------------------------------------------------
# Round-14 exact-regime direct rows (VERDICT r13 #5): k-means and
# PageRank run in configurations where the full computation is a
# closed-form SQL expression, so DuckDB recomputes the VALUES — the
# training loop and corpus assignment for k-means, two unrolled rank
# updates for PageRank — not just invariants.
# ---------------------------------------------------------------------------


def _kmeans_exact_regime_oracle(
    k: int = 8, iters: int = 4, dim: int = 64, sample: int = 2048
) -> str:
    """DuckDB twin of ``embed_clusters(k, iters)``: deterministic
    first-``k`` init over the lowest-id sample, ``iters`` unrolled
    Lloyd steps (argmin by elementwise squared distance — the same
    ``(x-c)²`` form numpy evaluates, ties to the lowest cluster index
    matching ``np.argmin`` first-wins; per-dimension ``avg`` means;
    empty clusters keep the previous centroid via LEFT JOIN+coalesce),
    then the corpus-wide assignment. Cross-engine float divergence is
    limited to summation order (numpy pairwise vs sequential), ~1e-15
    relative — far below the argmin gaps on real data."""
    d2 = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        "i -> (v.emb[i] - c.cent[i]) * (v.emb[i] - c.cent[i])))"
    )
    ctes = [
        "emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb "
        "FROM embeddings "
        "WHERE embedding IS NOT NULL AND len(embedding) > 0)",
        f"samp AS (SELECT vec_id, emb FROM emb ORDER BY vec_id LIMIT {sample})",
        "cent0 AS (SELECT CAST(rn - 1 AS INT) AS cluster, emb AS cent FROM "
        "(SELECT emb, row_number() OVER (ORDER BY vec_id) AS rn FROM samp) "
        f"WHERE rn <= {k})",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"a{i} AS (SELECT vec_id, cluster FROM ("
            "SELECT v.vec_id, c.cluster, row_number() OVER ("
            f"PARTITION BY v.vec_id ORDER BY {d2} ASC, c.cluster ASC) AS rnk "
            f"FROM samp v CROSS JOIN cent{p} c) WHERE rnk = 1)"
        )
        ctes.append(
            f"m{i} AS (SELECT a.cluster, d.d, avg(v.emb[d.d]) AS val "
            f"FROM a{i} a JOIN samp v USING (vec_id) "
            f"CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS d) d "
            "GROUP BY a.cluster, d.d)"
        )
        ctes.append(
            f"nc{i} AS (SELECT cluster, list(val ORDER BY d) AS cent "
            f"FROM m{i} GROUP BY cluster)"
        )
        ctes.append(
            f"cent{i} AS (SELECT p.cluster, coalesce(n.cent, p.cent) AS cent "
            f"FROM cent{p} p LEFT JOIN nc{i} n USING (cluster))"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT vec_id, cluster FROM ("
        "SELECT v.vec_id, c.cluster, row_number() OVER ("
        f"PARTITION BY v.vec_id ORDER BY {d2} ASC, c.cluster ASC) AS rnk "
        f"FROM emb v CROSS JOIN cent{iters} c) WHERE rnk = 1"
    )


_register(
    "embed_clusters_exact_regime",
    lambda s, d: similarity.embed_clusters_exact_regime(s, d),
    _kmeans_exact_regime_oracle(),
)


def _pagerank_exact_regime_oracle(
    k: int = 5, iters: int = 2, damping: str = "0.85"
) -> str:
    """DuckDB twin of ``knn_pagerank_exact_regime``: the brute-force
    kNN edge list (same expression as the knn_graph_exact oracle),
    then ``iters`` unrolled PageRank updates mirroring
    ``graph.pagerank``'s float arithmetic ORDER exactly —
    ``rank * (1.0/deg)`` contributions, the dangling-mass aggregate
    (structurally present; provably 0.0 on a kNN graph where every
    node has out-edges), and the left-associated
    ``(1-d)/n + d*dm/n + d*contrib`` update — so the only divergence
    is aggregation-order ulps under the 6-decimal stable rounding."""
    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb "
        "FROM embeddings "
        "WHERE embedding IS NOT NULL AND len(embedding) > 0)",
        "s AS (SELECT a.vec_id AS src, b.vec_id AS dst, "
        "round(list_dot_product(a.emb, b.emb) "
        "/ (sqrt(list_dot_product(a.emb, a.emb)) "
        "* sqrt(list_dot_product(b.emb, b.emb))), 4) AS sim "
        "FROM e a JOIN e b ON a.vec_id <> b.vec_id)",
        "rk AS (SELECT src, dst, row_number() OVER (PARTITION BY src "
        "ORDER BY sim DESC, dst ASC) AS rnk FROM s WHERE sim IS NOT NULL)",
        f"edges AS (SELECT src, dst FROM rk WHERE rnk <= {k})",
        "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        "nodes AS (SELECT node, (node IN (SELECT src FROM edges)) AS out_ok "
        "FROM (SELECT src AS node FROM edges UNION SELECT dst FROM edges))",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "r0 AS (SELECT node, out_ok, 1.0 / (SELECT n FROM nn) AS rank "
        "FROM nodes)",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"c{i} AS (SELECT e.dst AS node, "
            "sum(r.rank * (1.0 / d.deg)) AS contrib "
            "FROM edges e JOIN deg d ON d.src = e.src "
            f"JOIN r{p} r ON r.node = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"dm{i} AS (SELECT coalesce(sum(rank), 0.0) AS dm "
            f"FROM r{p} WHERE NOT out_ok)"
        )
        ctes.append(
            f"r{i} AS (SELECT n.node, n.out_ok, "
            f"(1.0 - {damping}) / (SELECT n FROM nn) "
            f"+ {damping} * (SELECT dm FROM dm{i}) / (SELECT n FROM nn) "
            f"+ {damping} * coalesce(c.contrib, 0.0) AS rank "
            f"FROM nodes n LEFT JOIN c{i} c ON c.node = n.node)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        # + 1e-9 mirrors the Spark side's round_eps: fixed-iteration
        # ranks are exact decimal-lattice values that land ON half-way
        # rounding points (graph.pagerank docstring)
        + f"\nSELECT node, round(rank + 1e-9, 6) AS rank FROM r{iters}"
    )


_register(
    "knn_pagerank_exact_regime",
    lambda s, d: graph.knn_pagerank_exact_regime(s, d),
    _pagerank_exact_regime_oracle(),
)


# Round-14: SRP-LSH candidate generation under the md5-twin
# discipline — the ANN sibling of dedup_minhash_md5_bands. Plane
# weight w[t,b,d] = (first 8 hex of md5("srp:{t}:{b}:{d}") as int)
# % 2001 - 1000, identical in both engines; integer weights make
# every product an exact double, so the only cross-engine divergence
# is summation order (<= 1e-12) against a measured min nonzero |dot|
# of 1.6e-3 corpus-wide — the sign bits, bucket ids, and the keyed
# co-bucket candidate SET are all value-hash-checked end-to-end.
_register(
    "ann_srp_md5_candidates",
    lambda s, d: similarity.srp_md5_candidate_pairs(
        s, d, tables=8, bits=4, dim=64
    ),
    """
    WITH planes AS (
      SELECT t.range AS t, b.range AS b, d.range AS d,
             CAST(('0x' || substr(md5('srp:' || CAST(t.range AS VARCHAR)
               || ':' || CAST(b.range AS VARCHAR)
               || ':' || CAST(d.range AS VARCHAR)), 1, 8)) AS BIGINT)
               % 2001 - 1000 AS w
      FROM range(8) t, range(4) b, range(64) d
    ), dots AS (
      SELECT e.vec_id, p.t, p.b,
             sum(CAST(e.embedding[p.d + 1] AS DOUBLE) * p.w) AS dot
      FROM (SELECT vec_id, embedding FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) > 0) e
      CROSS JOIN planes p
      GROUP BY e.vec_id, p.t, p.b
    ), buckets AS (
      SELECT vec_id, t,
             CAST(sum(CASE WHEN dot > 0 THEN 1 << b ELSE 0 END)
                  AS BIGINT) AS bucket
      FROM dots GROUP BY vec_id, t
    )
    SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
    FROM buckets a JOIN buckets b2
      ON a.t = b2.t AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id
    """,
)
