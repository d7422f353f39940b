"""Driver window ordering (_PROMOTED/_DEMOTED) + flagship -- split
from the monolithic registry.py (round 12); _finalize_order() runs
at import time, after every entries module has registered."""


from pyspark.sql import DataFrame, SparkSession

from ._core import ORACLES, QueryFn, SPARK_QUERIES, _register  # noqa: F401
from .entries_engine import _bfl_events

# ---------------------------------------------------------------------------
# Driver ordering
# ---------------------------------------------------------------------------
#
# The driver emits CORRECTNESS rows for a prefix of the registry in
# iteration order (round 2 recorded exactly the first 50 entries), so
# iteration order IS the verification budget.  Order by signal value:
# every unique-capability oracle-backed entry first, rows-only
# (no-oracle) entries next, and oracle-backed entries whose semantics
# are already pinned by the golden corpus + differential fuzz suite
# last.  ``_PROMOTED`` lists the extension-surface entries that missed
# the round-2 window; ``_DEMOTED`` lists what may safely fall outside it.

_PROMOTED = [
    # dedup_exact demoted round 11 (contract wave) — see _DEMOTED
    # dedup_ngram_jaccard demoted round 11 (contract wave) — see
    # _DEMOTED notes (dedup_minhash_lsh hashes the SAME oracle)
    # ann_topk demoted round 11 (contract wave) — see _DEMOTED notes
    # multimodal_meta: demoted late round 6 (green r2-r5) to fund
    # join_interval_overlap — see _DEMOTED notes
    # text_winnow_fingerprints / text_lang_profile / text_repetition /
    # text_contamination / join_asof_clicks / embedding_quantize /
    # sample_mixture / pipeline_epoch_order: demoted round 6 (each
    # green r5 and earlier) to fund the 19 rows-only → oracle
    # promotions; several are replaced by their strictly-richer twins
    # (winnow_fingerprints → winnow_overlap, contamination →
    # decontaminate_spans, mixture → token_mixture, epoch_order →
    # curriculum_order, asof_clicks family held by join_asof_tolerance)
    # dedup_clusters demoted round 9 — see _DEMOTED notes (its
    # identical-output forced-distributed twin stays in-window)
    # pii_scrub_events demoted round 7 — see _DEMOTED notes
    # round-3 additions: time-series + cube/pivot/interval-join surface
    # (window_range_count / sample_quality_topk / dedup_incremental
    # demoted late round 6 — see _DEMOTED notes)
    # ts_gap_fill_hourly demoted round 7 — see _DEMOTED notes
    # agg_cube_orders demoted round 7 — see _DEMOTED notes
    # join_length_bands demoted round 7 — see _DEMOTED notes
    # pipeline_curate demoted round 10 — see _DEMOTED notes
    # round-4 additions: skew-salted join, shard-export manifest
    # join_salted_skew demoted round 7 — see _DEMOTED notes
    # pipeline_shards demoted round 7 — see _DEMOTED notes
    # profile_orders demoted late round 6 — see _DEMOTED notes
    # pipeline_release demoted round 11 (replay wave) — see _DEMOTED
    # text_vocab_topk demoted late round 6 — see _DEMOTED notes
    # text_quality_flags demoted round 7 — see _DEMOTED notes
    # join_asof_tolerance demoted round 7 — see _DEMOTED notes
    # round-5 additions: BM25 relevance ranking + unigram surprisal
    # text_bm25_topk demoted round 7 — see _DEMOTED notes
    # text_unigram_surprisal demoted round 7 — see _DEMOTED notes
    # round-5 late additions: substring-dedup / chunking / domain-cap /
    # balanced-release families
    # dedup_spans demoted round 7 — see _DEMOTED notes
    # text_chunks demoted round 7 — see _DEMOTED notes
    # sample_source_cap demoted round 7 — see _DEMOTED notes
    # pipeline_release_balanced demoted round 7 — see _DEMOTED notes
    # round-6 promotions: every exactly-checkable entry that was
    # rows-only to the driver (VERDICT r5 #1) — the pytest DuckDB
    # replays moved into ORACLES. Slots funded by demoting 19
    # multi-round-green entries (11 BFL/engine-core entries whose
    # semantics the 362-row golden corpus + wire-protocol goldens +
    # compiler-vs-pyeval fuzz pin, and the 8 extension entries noted
    # above).
    # events_funnel_steps demoted round 8 — see _DEMOTED notes
    # events_session_funnel demoted round 11 — see _DEMOTED notes
    # events_cohort_retention demoted round 8 — see _DEMOTED notes
    # events_rolling_outliers demoted round 11 (late) — see _DEMOTED notes
    # events_expectations demoted round 10 — see _DEMOTED notes
    # events_psi_drift demoted round 11 (late) — see _DEMOTED notes
    # events_skew_profile demoted round 10 — see _DEMOTED notes
    # sample_splits demoted round 7 — see _DEMOTED notes
    # sample_token_mixture demoted round 8 — see _DEMOTED notes
    # sample_quality_percentile demoted round 11 — see _DEMOTED notes
    # pipeline_release_delta demoted round 11 — see _DEMOTED notes
    # pipeline_curriculum_order demoted round 10 — see _DEMOTED notes
    # dedup_scrub_spans demoted round 10 — see _DEMOTED notes
    # text_decontaminate_spans demoted round 8 — see _DEMOTED notes
    # text_bigram_surprisal demoted round 11 — see _DEMOTED notes
    # dedup_canonical demoted round 7 — see _DEMOTED notes
    # text_phrase_search demoted round 10 — see _DEMOTED notes
    # text_winnow_overlap demoted round 8 — see _DEMOTED notes
    # agg_equi_depth_histogram demoted round 8 — see _DEMOTED notes
    # round-6 late additions: boilerplate mass / exact stratified eval
    # set / corpus datasheet — NEW capabilities, so their oracles take
    # window slots (funded by demoting window_range_count,
    # sample_quality_topk, dedup_incremental — all multi-round green,
    # families held per the _DEMOTED notes)
    # text_boilerplate demoted round 10 — see _DEMOTED notes
    # sample_exact_stratified demoted round 11 (late) — see _DEMOTED notes
    # pipeline_datasheet demoted round 11 (late) — see _DEMOTED notes
    # cross-entity interval-overlap join (grid-bucketed, no cartesian):
    # a NEW join capability — slot funded by demoting multimodal_meta
    # (green r2-r5; the multimodal family is pinned by the real-decode
    # pytest surface incl. PNG/pHash/spectral/fingerprint gates)
    # join_interval_overlap demoted round 11 — see _DEMOTED notes
    # pipeline_pack_balanced demoted round 10 — see _DEMOTED notes
    # sample_effective_mass demoted round 8 — see _DEMOTED notes
    # (was: dedup-aware effective token mass, slot originally funded by
    # demoting profile_orders)
    # round-7 promotions (VERDICT r6 #3): former rows-only entries with
    # fully deterministic outputs, now carrying complete DuckDB oracles.
    # Slots funded by demoting join_length_bands / pipeline_shards /
    # query_limit_extract / dedup_canonical (notes in _DEMOTED).
    # dedup_containment demoted round 9 — see _DEMOTED notes (the
    # richer survivors view stays in-window over the same pairs)
    # dedup_containment_survivors demoted round 11 — see _DEMOTED notes
    # sample_exact_n demoted round 9 — see _DEMOTED notes
    # validate_golden_errors demoted round 11 (replay wave) — see
    # _DEMOTED notes
    # round-7 NEW capability: query-by-example hybrid retrieval (BM25 +
    # cosine fused by RRF) — slot funded by demoting sample_splits
    # search_hybrid_rrf demoted round 11 (replay wave 2) — see
    # _DEMOTED notes
    # round-7 NEW capabilities: corpus-composition analytics (marginal
    # novelty curve + source-overlap matrix) — slots funded by demoting
    # ts_gap_fill_hourly and text_chunks
    # pipeline_novelty_curve demoted round 11 — see _DEMOTED notes
    # pipeline_source_overlap demoted round 11 (late) — see _DEMOTED notes
    # round-7 late promotion: quality-aware cluster representatives via
    # the recursive-CTE components oracle — slot funded by demoting
    # pii_scrub_events
    # dedup_cluster_best demoted round 11 (late) — see _DEMOTED notes
    # round-7 NEW capability: DSIR-style importance selection (hashed
    # n-gram likelihood-ratio data selection, Xie et al. 2023) — slot
    # funded by demoting sample_source_cap
    # sample_dsir_select demoted round 11 (late) — see _DEMOTED notes
    # round-7 NEW capability: per-source lexical-diversity diagnostics
    # (TTR / distinct-bigram ratio / Zipf slope) — slot funded by
    # demoting dedup_spans
    # text_lexical_diversity demoted round 11 (late) — see _DEMOTED notes
    # round-7 NEW capability: greedy token-budget selection via the
    # distributed two-pass prefix sum — slot funded by demoting
    # text_bm25_topk
    # sample_token_budget demoted round 11 — see _DEMOTED notes
    # round-7 NEW capability: temperature-based mixture reweighting
    # (XLM-R/mT5 alpha sampling) — slot funded by demoting
    # text_unigram_surprisal
    # sample_temperature_mixture demoted round 11 (replay wave) — see
    # _DEMOTED notes
    # round-7 NEW capability: leakage-safe cluster-keyed split
    # assignment — slot funded by demoting agg_cube_orders
    # sample_leakage_safe_splits demoted round 11 (replay wave 2) —
    # see _DEMOTED notes
    # round-7 NEW capability: Efraimidis-Spirakis weighted draw —
    # slot funded by demoting join_asof_tolerance
    # sample_weighted_draw demoted round 10 — see _DEMOTED notes
    # round-7 NEW capabilities: RFM behavioral segmentation +
    # seasonality grid — slots funded by demoting join_salted_skew
    # and pipeline_release_balanced
    # events_rfm_segments demoted round 11 (replay wave) — see
    # _DEMOTED notes (streaming_rfm_replay is the family successor)
    # events_seasonality demoted round 11 — see _DEMOTED notes
    # round-7 NEW capability: per-cluster density/transitivity
    # diagnostics — slot funded by demoting text_quality_flags
    # dedup_cluster_density demoted round 11 (replay wave) — see
    # _DEMOTED notes
    # round-8 promotions (VERDICT r7 #8): former rows-only entries with
    # fully deterministic outputs, now carrying exact DuckDB oracles.
    # Slots funded by demoting agg_equi_depth_histogram and
    # text_winnow_overlap (notes in _DEMOTED); the four engine middle
    # rows (fetch_backward, redact_row_backend,
    # insertion_filter_roundtrip, log_roundtrip_query) keep their
    # window seats unchanged.
    # sample_source_cap_twophase demoted round 11 (replay wave) — see
    # _DEMOTED notes (streaming_source_cap_replay is the successor)
    # dedup_operating_curve demoted round 11 (replay wave) — see
    # _DEMOTED notes
    # round-8 promotion (VERDICT r7 #5): the FORCED-distributed
    # min-label clustering path under the driver's exact check (same
    # recursive-CTE oracle as dedup_clusters — identical output, 100-TB
    # physical plan). Slot funded by demoting events_funnel_steps.
    "dedup_clusters_distributed",
    # agg_heavy_hitters_verified demoted round 14 — see _DEMOTED notes
    # round-8 NEW capability: C4-style sentence-level dedup (Raffel et
    # al. 2020 / Lee et al. 2022) — per-doc duplicate-sentence ratio +
    # keep-first scrub, exact oracles from birth. Slots funded by
    # demoting text_decontaminate_spans and events_cohort_retention.
    # text_dup_sentences demoted round 11 (replay wave) — see
    # _DEMOTED notes (text_scrub_sentences stays in-window)
    # text_scrub_sentences demoted round 11 (replay wave 2) — see
    # _DEMOTED notes (the online scrub replay stays in-window)
    # round-8 promotion: the bucketed co-located join (zero-exchange
    # SMJ — the pre-shuffled 100-TB fact/fact layout), implemented and
    # plan-gated since round 4 but never driver-verified. Slot funded
    # by demoting sample_token_mixture.
    # join_bucketed_colocated demoted round 11 (replay wave 2) — see
    # _DEMOTED notes (the zero-exchange plan stays fingerprint-gated)
    # round-8 NEW capability: first-order Markov transitions over user
    # event sequences — slot funded by demoting sample_effective_mass.
    # events_markov_transitions demoted round 11 (replay wave 2) —
    # see _DEMOTED notes
    # round-9 promotions (VERDICT r8 #3): former rows-only entries now
    # carrying exact DuckDB oracles. Slots funded by demoting
    # dedup_clusters / dedup_containment / sample_exact_n (notes in
    # _DEMOTED). multimodal_asset_dedup was investigated and is NOT
    # promotable — see its _register comment.
    # profile_drift_events demoted round 11 (contract wave) — see
    # _DEMOTED notes (embedding_drift_releases stays in-window)
    # embedding_drift_releases demoted round 11 (final wave) — see
    # _DEMOTED notes
    # the persisted-ANN lifecycle parity diff (build→persist→load→serve
    # must equal in-session ann_topk_ivfpq exactly; the parity IS the
    # driver check, per VERDICT r8 #3)
    # ann_index_persisted demoted round 11 (final wave) — see
    # _DEMOTED notes
    # round-10 promotions (VERDICT r9 #7): two former rows-only entries
    # now carrying exact oracles. Slots funded by demoting
    # pipeline_curate and sample_weighted_draw (notes in _DEMOTED).
    # the 100-TB LSH clustering path under the driver's exact check —
    # seeded signatures + exact-Jaccard verify make it deterministic,
    # and recall is total on this corpus (verified plain + docs-fuzz),
    # so it hashes the SAME recursive-CTE oracle as its two twins
    # dedup_clusters_lsh demoted round 12 — see _DEMOTED notes
    # frequent-items sketch under the ann_index_persisted parity
    # pattern: counts exact under capacity, membership ties-closed
    # round-10 NEW capabilities + verified twins. Slots funded by
    # demoting events_skew_profile, pipeline_curriculum_order,
    # dedup_scrub_spans and text_phrase_search (all green r6-r9; notes
    # in _DEMOTED).
    # k-anonymity release ladder — new privacy family (ops/privacy.py)
    "privacy_k_anonymity",
    # + l-diversity on the same ladder (slot funded by demoting
    # events_expectations — green r6-r9; notes in _DEMOTED)
    # privacy_l_diversity demoted round 12 — see _DEMOTED notes
    # leave-one-source-out ablation — one-rollup corpus composition
    # pipeline_loso_ablation demoted round 12 — see _DEMOTED notes
    # GK-sketch rank contract + HLL error contract under the driver's
    # exact check (ann_index_persisted pattern, 3rd/4th applications)
    # agg_quantiles_verified demoted round 12 (late) — see _DEMOTED notes
    # agg_hll_verified demoted round 12 — see _DEMOTED notes
    # round-10 late: exact kNN graph baseline under the full oracle
    # (slot funded by demoting pipeline_pack_balanced — green r6-r9;
    # notes in _DEMOTED)
    # knn_graph_exact demoted round 11 (final wave) — see _DEMOTED
    # notes (knn_graph_verified re-RUNS it as the ground truth twin)
    # round-10 late: the MinHash-LSH banding pair path under the SAME
    # exact-Jaccard oracle as the PPJoin twin (slot funded by demoting
    # text_boilerplate — green r6-r9; notes in _DEMOTED)
    # dedup_minhash_lsh demoted round 11 (final wave) — see _DEMOTED
    # round-11 promotions (VERDICT r10 next-round #1-#3): the three
    # never-driver-checked families come under the driver gate. Slots
    # funded by demoting nine multi-round greens (events_session_funnel,
    # events_seasonality, sample_quality_percentile, sample_token_budget,
    # text_bigram_surprisal, pipeline_novelty_curve,
    # pipeline_release_delta, dedup_containment_survivors,
    # join_interval_overlap — notes in _DEMOTED).
    # approximate-ANN contract rows (ann_index_persisted pattern):
    # recall-vs-exact floor + ranking discipline + per-sim exactness
    # ann_topk_lsh_verified demoted round 13 — see _DEMOTED notes
    # ann_topk_ivf_verified demoted round 13 — see _DEMOTED notes
    # ann_topk_pq_verified demoted round 12 — see _DEMOTED notes
    # ann_topk_ivfpq_verified demoted round 12 — see _DEMOTED notes
    "knn_graph_verified",
    # first-ever driver rows for the multimodal decode path: REAL
    # container decode diffed against the synth-parameter recomputation
    # multimodal_wav_verified demoted round 13 — see _DEMOTED notes
    # multimodal_image_verified demoted round 13 — see _DEMOTED notes
    # first-ever driver rows for the streaming twins: full-corpus
    # replay through the real Structured Streaming queries, compared
    # on the batching-invariant projection
    # streaming_kanon_replay demoted round 14 — see _DEMOTED notes
    # streaming_sentences_replay demoted round 12 (late) — see _DEMOTED notes
    # round-11 late promotions: five more never-driver families under
    # the gate (SimHash, SRP near-dup, k-means assignment, the
    # k-center dim-adaptive parity, BPE losslessness). Slots funded by
    # demoting events_rolling_outliers, events_psi_drift,
    # sample_exact_stratified, dedup_cluster_best and
    # pipeline_source_overlap (all green 4-5 committed rounds; notes
    # in _DEMOTED).
    # dedup_simhash_verified demoted round 13 — see _DEMOTED notes
    # embedding_near_dup_verified demoted round 13 — see _DEMOTED notes
    # embed_clusters_verified demoted round 12 — see _DEMOTED notes
    "sample_kcenter_verified",
    # text_bpe_verified demoted round 14 — see _DEMOTED notes
    # + SemDeDup invariants and the pHash decode roundtrip — with
    # these every operator the r10 verdict named in next-round #1 is
    # driver-checked. Slots funded by demoting text_lexical_diversity
    # and pipeline_datasheet (notes in _DEMOTED).
    # dedup_semantic_verified demoted round 14 — see _DEMOTED notes
    # multimodal_phash_verified demoted round 12 — see _DEMOTED notes
    # + the spectral/audio-fingerprint decode roundtrip (slot funded
    # by demoting sample_dsir_select — green r7-r10; notes in _DEMOTED)
    # multimodal_spectral_verified demoted round 12 — see _DEMOTED notes
    # round-11 batch-replay wave: eight MORE streaming twins under the
    # driver gate (exact-dedup, windowed counts, source-cap, RFM, gap
    # sessionization, quality monitor, and BOTH stream-stream joins) —
    # full-value oracles on the batching-invariant projection, the
    # kanon/sentences replay pattern. Slots funded by demoting eight
    # multi-round greens (pipeline_release, validate_golden_errors,
    # sample_temperature_mixture, events_rfm_segments,
    # dedup_cluster_density, text_dup_sentences,
    # sample_source_cap_twophase, dedup_operating_curve — notes in
    # _DEMOTED).
    # streaming_dedup_replay demoted round 13 — see _DEMOTED notes
    # streaming_windows_replay demoted round 12 — see _DEMOTED notes
    # streaming_source_cap_replay demoted round 13 — see _DEMOTED notes
    # streaming_rfm_replay demoted round 12 — see _DEMOTED notes
    "streaming_sessions_replay",
    # streaming_quality_replay demoted round 12 — see _DEMOTED notes
    # streaming_asof_replay demoted round 14 — see _DEMOTED notes
    "streaming_exposure_replay",
    # round-11 replay wave 2: five more twins — the stateless
    # blocklist gate and the tolerance-zero funnel under FULL-value
    # oracles, plus SemDeDup-invariant / model-diff / bit-identical
    # Welford contract rows for the online semantic, DSIR, and
    # anomaly twins. With these, 15 of the 17 streaming modules are
    # driver-checked (tail.py is the reference wire surface itself;
    # rfm/sessions/windows covered above). Slots funded by demoting
    # search_hybrid_rrf, sample_leakage_safe_splits,
    # text_scrub_sentences, join_bucketed_colocated and
    # events_markov_transitions (notes in _DEMOTED).
    # streaming_blocklist_replay demoted round 13 — see _DEMOTED notes
    # streaming_funnel_replay demoted round 13 (late) — see _DEMOTED notes
    # streaming_semdedup_replay demoted round 13 — see _DEMOTED notes
    # streaming_dsir_replay demoted round 13 — see _DEMOTED notes
    # streaming_anomaly_replay demoted round 14 (late) — see _DEMOTED
    # notes (funds flush_reset_roundtrip)
    # round-11 contract wave: the last four never-driver-checked
    # extension families under the gate — PageRank vs an independent
    # numpy power iteration, Z-order bit-inversion + pruning
    # soundness, contrastive-triplet re-derivation, and the banded
    # Hamming near-dup over real decoded media vs brute force. Slots
    # funded by demoting the three 8-9-round-green head rows (their
    # families are saturated with in-window survivors) and
    # profile_drift_events (notes in _DEMOTED).
    # knn_pagerank_verified demoted round 14 — see _DEMOTED notes
    # layout_zorder_verified demoted round 14 — see _DEMOTED notes
    # embedding_triplets_verified demoted round 14 — see _DEMOTED notes
    "multimodal_hamming_verified",
    # round-11 final wave: the LAST four families with no driver row
    # of any kind — NFKC dedup invariants, the char-baseline fertility
    # pipeline under a FULL SQL oracle, the quality classifier's
    # scoring path, and asset_near_dup's modality routing. With these,
    # every registry family is driver-checked. Slots funded by
    # demoting embedding_drift_releases, ann_index_persisted,
    # dedup_minhash_lsh and knn_graph_exact (notes in _DEMOTED).
    # text_normalized_verified demoted round 14 — see _DEMOTED notes
    "text_fertility_verified",
    # text_quality_verified demoted round 14 — see _DEMOTED notes
    # multimodal_asset_verified demoted round 14 — see _DEMOTED notes
    # round-12 rotation (VERDICT r11 #7/#10): twelve promotions.
    # Two NEW direct value-hash rows retire twin-covered headline
    # families by value: the md5-token-hash SimHash twin (the whole
    # sign-vote/banding/hamming dataflow under an exact DuckDB oracle)
    # and the BPE first-merge row (the trainer's tokenize/top-V/pair
    # count/argmax entry path, exactly SQL-expressible at one merge).
    # dedup_simhash_md5_pairs demoted round 14 (late) — see _DEMOTED
    # notes (funds ann_srp_md5_candidates)
    # bpe_first_merge demoted round 14 (late) — see _DEMOTED notes
    # (funds log_compact_roundtrip)
    # Direct hash rows promoted BACK for twin-covered families: the
    # exact quadratic kNN baseline, the MinHash-LSH pair list (exact-
    # Jaccard oracle), the persisted-ANN lifecycle diff, and the
    # release-to-release embedding drift rollup.
    # knn_graph_exact demoted round 13 (late) — see _DEMOTED notes
    # dedup_minhash_lsh demoted round 14 — see _DEMOTED notes
    # ann_index_persisted demoted round 14 — see _DEMOTED notes
    # embedding_drift_releases demoted round 13 (late) — see _DEMOTED notes
    # Long-demoted core rows rotated back in (each 8-9 rounds green
    # historically, out of window since r11; re-verifying them keeps
    # the demotion ledger honest): exact dedup, PPJoin n-gram Jaccard,
    # brute-force ANN, the curation funnel, the grid interval-overlap
    # join, and the Markov transition matrix.
    # dedup_exact demoted round 14 — see _DEMOTED notes
    # dedup_ngram_jaccard demoted round 14 — see _DEMOTED notes
    # ann_topk demoted round 14 — see _DEMOTED notes
    # pipeline_curate demoted round 14 — see _DEMOTED notes
    # join_interval_overlap demoted round 14 — see _DEMOTED notes
    # events_markov_transitions demoted round 14 — see _DEMOTED notes
    # round-12 late additions (test_registry_order discipline: a new
    # oracle-backed entry must enter the window the round it appears):
    # the md5 MinHash signature twin and the IVF operating curve
    # dedup_minhash_md5_sigs demoted round 14 — see _DEMOTED notes
    "ann_ivf_curve_verified",
    # round-13 rotation (VERDICT r12 #8): eleven promotions. The new
    # banding-stage md5 twin (the LSH candidate SET under a full
    # DuckDB recomputation), the validate mode re-promoted now that
    # the parser AST golden table backs it directly
    # (tests/test_bfl_parser_goldens.py), and the longest-demoted
    # engine/BFL core rows — the reference's own retrieval modes and
    # scalar helpers, last driver-checked r02-r05.
    "dedup_minhash_md5_bands",
    "validate_golden_errors",
    "single_lookup",
    "query_left_off",
    "macro_expansion_query",
    "fetch_forward",
    "bfl_time_window",
    "bfl_and_or",
    "bfl_json_num_cmp",
    "bfl_xml_path",
    "recursive_descent",
    # round-13 late addition: the Z-order key construction as a direct
    # value row (bounds + bucketize + 20-term Morton interleave, all
    # DuckDB-recomputed). Slot funded by demoting knn_graph_exact.
    "layout_morton_keys",
    # round-13 late addition: the frequent-items sketch in its exact
    # regime (capacity above per-group cardinality -> total-order SQL
    # oracle for the whole sketch dataflow). Slot funded by demoting
    # streaming_funnel_replay.
    "agg_heavy_hitters_exact_regime",
    # round-13 late addition: the GK quantile sketch in its exact
    # regime (accuracy INT_MAX -> exact discrete quantiles, DuckDB
    # quantile_disc oracle). Slot funded by demoting
    # embedding_drift_releases.
    "agg_quantile_exact_regime",
    # round-14 rotation (VERDICT r13 #1/#2/#5): twenty promotions.
    # FIRST driver rows for the stateful engine surface — retention
    # rotation / truncatedTimestamp / persistence-restart, the one §2
    # family with zero driver visibility through 13 rounds
    # (native.go:951-1108, 986-1044, 155-258, 1207-1211 semantics):
    "retention_rotation_roundtrip",
    "persistence_restart_roundtrip",
    # two more exact-regime direct rows: k-means with the full
    # training loop + corpus assignment DuckDB-recomputed by value,
    # and fixed-2-iteration PageRank over the exact kNN edge list as
    # a closed-form SQL aggregate:
    "embed_clusters_exact_regime",
    "knn_pagerank_exact_regime",
    # the r02-vintage recall (VERDICT r13 #2): the reference's own
    # BFL predicate/helper core, last driver-checked ELEVEN rounds
    # ago (r02) — recalled so the demotion ledger stays honest:
    "bfl_eq_string",
    "bfl_neq_string",
    "bfl_cmp_gt",
    "bfl_cmp_le",
    "bfl_not",
    "bfl_bare_path_truthy",
    "bfl_startswith",
    "bfl_endswith",
    "bfl_contains",
    "bfl_json_key_eq",
    "bfl_collapse_missing",
    "bfl_index_select",
    # plus the r03-r05 stragglers from the same verdict list:
    "redact_typed_fast",
    "bfl_time_arith_fold",
    "bfl_json_base64_probe",
    "bfl_wildcard_existential",
    # round-14 late addition (test_registry_order discipline: a new
    # oracle-backed entry enters the window the round it appears):
    # /flush + /reset under the driver gate — the LAST stateful-surface
    # family without a driver row (native.go:888-928 semantics: flush
    # keeps macros/filter/limit and restarts the id counter, reset
    # clears them). Slot funded by demoting streaming_anomaly_replay.
    "flush_reset_roundtrip",
    # round-14 late addition: SRP-LSH candidate generation under the
    # md5-twin discipline — the ANN sibling of dedup_minhash_md5_bands
    # (sign bits → bucket ids → keyed co-bucket candidate SET, all
    # DuckDB-recomputed by value; integer plane weights give exact
    # products, measured 1.6e-3 sign margin vs <=1e-12 sum-order
    # divergence). Slot funded by demoting dedup_simhash_md5_pairs.
    "ann_srp_md5_candidates",
    # round-14 late addition: compaction maintenance under the driver
    # gate — micro-batch ingest debris coalesced with an asserted
    # file-count drop while the BFL query result and the id sequence
    # stay IDENTICAL across the atomic swap (the equivalence contract
    # that makes compaction safe on a live log). Slot funded by
    # demoting bpe_first_merge.
    "log_compact_roundtrip",
]

_DEMOTED = [
    # round-14 late demotion (funds log_compact_roundtrip):
    "bpe_first_merge",  # green r12-r13; the trainer's tokenize/top-V/
    # pair-count/argmax entry path stays pinned by those rounds + the
    # pytest losslessness/monotonicity gates, and the text family
    # keeps text_fertility_verified in-window (full SQL oracle over
    # the BPE encode at its char-level fixed point)
    # round-14 late demotion (funds ann_srp_md5_candidates):
    "dedup_simhash_md5_pairs",  # green r12-r13; the md5-hash-family
    # twin discipline it introduced stays in-window via
    # dedup_minhash_md5_bands (MinHash) and now ann_srp_md5_candidates
    # (SRP), the banded-Hamming machinery stays in-window via
    # multimodal_hamming_verified, and the production SimHash path
    # keeps its pytest goldens + 2 committed driver rounds
    # round-14 late demotion (funds flush_reset_roundtrip):
    "streaming_anomaly_replay",  # green r11-r13; the bit-identical
    # Welford merge contract stays pinned in pytest, and the streaming
    # family keeps sessions (applyInPandasWithState) + exposure
    # (stream-stream grid join) replays in-window — the ingest→drain
    # harness keeps full coverage
    # round-14 demotions (fund the twenty r14 promotions: the four new
    # stateful/exact-regime rows and the sixteen r02-r05 BFL-core
    # recalls; every family keeps in-window survivors, and the
    # round-close out-of-window spot-check re-runs each of these):
    "agg_heavy_hitters_verified",  # green r10-r13 (4 rounds); its
    # exact-regime twin (full value oracle over the same sketch
    # build/merge/extract dataflow) stays in-window, and the
    # under-capacity contracts stay pinned in pytest incl. the new
    # exactness-boundary test
    "knn_pagerank_verified",  # green r11-r13; superseded in-window by
    # knn_pagerank_exact_regime — the SAME production pagerank body
    # under a full DuckDB value oracle instead of the numpy contract
    # (which stays re-runnable in pytest)
    "layout_zorder_verified",  # green r11-r13; the layout family keeps
    # layout_morton_keys (key algebra by value) in-window; the
    # bit-inversion + pruning-soundness gates stay in pytest
    "embedding_triplets_verified",  # green r11-r13; the contrastive
    # re-derivation is pinned by 3 rounds + pytest; the embedding
    # family keeps sample_kcenter_verified and gains the exact-regime
    # k-means row in-window
    "multimodal_asset_verified",  # green r11-r13; modality routing is
    # a trivial projection — the richer multimodal_hamming_verified
    # (real container decode + banded Hamming vs brute force) stays
    # in-window over the same decode machinery
    "text_normalized_verified",  # green r11-r13; NFKC dedup invariants
    # stay pytest-pinned; the text family keeps text_fertility_verified
    # (full SQL oracle) in-window
    "text_quality_verified",  # green r11-r13; the classifier scoring
    # path is pytest-pinned (model-diff goldens); text family survivor
    # as above
    "text_bpe_verified",  # green r11-r13; bpe_first_merge — the
    # trainer's tokenize/top-V/pair-count/argmax entry path as a
    # direct value row — stays in-window; losslessness stays in pytest
    "dedup_semantic_verified",  # green r11-r13; its k-means core gets
    # a STRICTLY richer in-window verifier this round
    # (embed_clusters_exact_regime recomputes the full training loop
    # by value); the greedy keep-first invariants stay pytest-pinned
    "streaming_kanon_replay",  # green r11-r13; three replays stay
    # in-window (sessions = applyInPandasWithState, exposure =
    # stream-stream grid join, anomaly = bit-identical Welford) —
    # the ingest→drain harness keeps full coverage
    "streaming_asof_replay",  # green r11-r13; streaming_exposure_replay
    # keeps the richer stream-stream join shape in-window
    "dedup_exact",  # recalled r12 after 9 straight greens, green
    # r12-r13 (11 committed rounds total — the longest ledger in the
    # registry); the hash-group core is re-verified by the in-window
    # dedup family every round
    "dedup_ngram_jaccard",  # same recall cohort (11 rounds total);
    # dedup_minhash_md5_bands hashes the full candidate-set
    # recomputation over the same shingle machinery in-window
    "ann_topk",  # same recall cohort (10+ rounds); the ANN family
    # keeps ann_ivf_curve_verified in-window and gains the exact-regime
    # PageRank row over the exact-cosine machinery
    "pipeline_curate",  # same recall cohort (10 rounds total); the
    # curate CTE chain is embedded in the pipeline family's pytest
    # oracles and was re-verified r12-r13
    "join_interval_overlap",  # same recall cohort (7 rounds total);
    # the grid-bucketed interval decomposition is pinned by those
    # rounds + the streaming exposure replay's grid join in-window
    "events_markov_transitions",  # same recall cohort (5 rounds
    # total); lag/transition machinery shared with the in-window
    # sessions replay
    "dedup_minhash_lsh",  # re-promoted r12, green r12-r13; the
    # md5-bands twin (the banding candidate SET under a full DuckDB
    # recomputation) stays in-window — strictly richer than the
    # pair-list row it funded
    "ann_index_persisted",  # re-promoted r12, green r12-r13; the
    # persisted-serve parity stays pytest-pinned and it is one of the
    # most expensive bench rows (write-inclusive lifecycle)
    "dedup_minhash_md5_sigs",  # green r12-r13; subsumed in-window by
    # dedup_minhash_md5_bands, which recomputes the signature matrix
    # as the prefix of its banding recomputation
    # round-13 late demotion (funds agg_quantile_exact_regime):
    "embedding_drift_releases",  # green r09/r10/r12 (3 committed
    # rounds); a per-dimension mean/std release-over-release rollup
    # whose aggregate algebra is shared with the in-window contract
    # rows and pytest-pinned
    # round-13 late demotion (funds agg_heavy_hitters_exact_regime):
    "streaming_funnel_replay",  # green r11-r12; tolerance-zero funnel
    # math is oracle-pinned batch-side (events_funnel family) and five
    # replays (kanon/sessions/asof/exposure/anomaly) keep the
    # ingest->drain harness in-window
    # round-13 late demotion (funds layout_morton_keys):
    "knn_graph_exact",  # green r10+r12; the exact quadratic edge list
    # is RE-EXECUTED every round inside in-window knn_graph_verified's
    # verify phase (the recall diff recomputes it), so the window
    # keeps checking the same construction against a stricter contract
    # round-13 demotions (fund the eleven r13 promotions; every family
    # keeps in-window verifiers, and the round-close out-of-window
    # spot-check re-runs each of these):
    "ann_topk_lsh_verified",  # green r11-r12; the ANN family keeps
    # ann_ivf_curve_verified (recall/probe curve + monotonicity
    # theorem), the brute-force ann_topk direct-hash row, and the
    # persisted-index lifecycle in-window; the SRP recall floor stays
    # pinned in pytest
    "ann_topk_ivf_verified",  # green r11-r12; STRICTLY subsumed by
    # in-window ann_ivf_curve_verified, which checks the same recall
    # floor at four probe budgets plus monotonicity
    "multimodal_wav_verified",  # green r11-r12; the audio family
    # keeps the full decode pytest surface (WAV synth roundtrip,
    # spectral, fingerprint) and in-window multimodal_asset_verified
    # routes the modality split
    "multimodal_image_verified",  # green r11-r12; same rationale —
    # multimodal_hamming_verified + multimodal_asset_verified stay
    # in-window over the same decode machinery
    "dedup_simhash_verified",  # green r11-r12; its md5 hash-family
    # twin dedup_simhash_md5_pairs (FULL value check of the
    # sign-vote/band/hamming dataflow) stays in-window
    "embedding_near_dup_verified",  # green r11-r12; the SRP bucket +
    # cosine-verify machinery is shared with in-window
    # knn_graph_verified and the semantic family keeps
    # dedup_semantic_verified
    "streaming_dedup_replay",  # green r11-r12; the watermarked
    # dropDuplicatesWithinWatermark lifecycle stays covered by the
    # in-window kanon replay (same ingest->drain harness) and the
    # exact-dedup oracle family
    "streaming_source_cap_replay",  # green r11-r12; the stateful
    # per-key admission counter is the same applyInPandasWithState
    # shape as in-window streaming_sessions_replay
    "streaming_blocklist_replay",  # green r11-r12; stateless gate —
    # the Jaccard blocklist math is pinned by the PPJoin oracles and
    # pytest; no keyed state to drift
    "streaming_semdedup_replay",  # green r11-r12; SemDeDup invariants
    # stay in-window via dedup_semantic_verified, and the funnel/asof/
    # exposure replays keep the stream-stream machinery checked
    "streaming_dsir_replay",  # green r11-r12; the DSIR weight math is
    # oracle-checked batch-side (sample_dsir_select family) and the
    # replay harness stays exercised by six in-window replays
    # round-12 late demotions (fund the two late additions):
    "agg_quantiles_verified",  # green r10-r11; the sketch family keeps
    # agg_heavy_hitters_verified in-window and the GK error contract
    # stays pinned in pytest
    "streaming_sentences_replay",  # green r11; the same watermarked
    # dropDuplicatesWithinWatermark machinery stays in-window via
    # streaming_dedup_replay, and the batch scrub twins hold the
    # sentence-key semantics (text_scrub_sentences family)
    # round-12 demotions (fund the twelve r12 promotions; every family
    # keeps in-window verifiers, and the round-close out-of-window
    # spot-check re-runs each of these):
    "dedup_clusters_lsh",  # green r10-r11; hashes the IDENTICAL
    # recursive-CTE clusters oracle as in-window
    # dedup_clusters_distributed (the 100-TB forced-distributed path),
    # and the banding machinery returns in-window via dedup_minhash_lsh
    "privacy_l_diversity",  # green r10-r11; same release-ladder rollup
    # plan as in-window privacy_k_anonymity with one extra distinct
    # aggregate; the l-diversity decision math stays pinned in pytest
    "pipeline_loso_ablation",  # green r10-r11; one (source,lang)
    # rollup — the leave-one-source-out arithmetic is pytest-pinned and
    # the pipeline family regains in-window pipeline_curate
    "agg_hll_verified",  # green r10-r11; the sketch family keeps
    # agg_quantiles_verified + agg_heavy_hitters_verified in-window;
    # the HLL error contract stays pinned in pytest
    "ann_topk_pq_verified",  # green r11; ADC scoring contract — the
    # ANN family keeps lsh/ivf contracts in-window and regains the
    # exact twin (knn_graph_exact), brute force (ann_topk) and the
    # persisted lifecycle (ann_index_persisted) as direct hash rows
    "ann_topk_ivfpq_verified",  # green r11; same rationale as pq
    "multimodal_phash_verified",  # green r11; the image family keeps
    # multimodal_image_verified (full decode roundtrip) and
    # multimodal_hamming_verified (fingerprint near-dup vs brute
    # force) in-window; pHash DCT exactness stays pinned in pytest
    "multimodal_spectral_verified",  # green r11; audio keeps
    # multimodal_wav_verified (decode roundtrip) in-window; the FFT
    # peak contract stays pinned in pytest
    "streaming_windows_replay",  # green r11; the simplest replay
    # (watermarked tumbling counts) — the streaming surface keeps 12
    # replay rows in-window incl. both stream-stream joins
    "streaming_rfm_replay",  # green r11; the RFM rollup is a plain
    # agg over the drained log, and its batch twin's SQL is the oracle
    # either way; 12 replay rows stay in-window
    "streaming_quality_replay",  # green r11; same rationale — the
    # quality monitor projection is batching-invariant by construction
    "embed_clusters_verified",  # green r11; the k-means argmin audit —
    # the embedding family keeps near_dup/kcenter/triplets/semantic
    # verified rows in-window plus the returning drift/persisted rows
    # round-11 final-wave demotions:
    # embedding_drift_releases promoted back round 12 — see _PROMOTED  # green r9-r10; the release-to-release
    # drift rollup shares its profile maths with the pytest-pinned PSI
    # family; two committed rounds + goldens hold it
    # ann_index_persisted promoted back round 12 — see _PROMOTED  # green r9-r10; the serve path is
    # re-verified every round by the five in-window ANN contract rows
    # and the persistence lifecycle stays pinned in pytest — also the
    # single most expensive bench row (write-inclusive lifecycle)
    # dedup_minhash_lsh promoted back round 12 — see _PROMOTED  # green r10; hashes the IDENTICAL
    # exact-Jaccard oracle its nine-round-green PPJoin twin verified,
    # and the banding machinery stays in-window via dedup_clusters_lsh
    # knn_graph_exact promoted back round 12 — see _PROMOTED  # green r10; knn_graph_verified (in-window)
    # re-RUNS the exact twin in full every round as its ground truth —
    # the quadratic baseline is executed and compared, not retired
    # round-11 contract-wave demotions (the first three are the
    # longest-green rows in the registry; every family keeps multiple
    # in-window verifiers):
    # dedup_exact promoted back round 12 — see _PROMOTED  # green r2-r10 (nine rounds) — the original head
    # row; the hash-group dedup core is re-verified in-window by
    # streaming_dedup_replay (DISTINCT-key oracle over the same md5
    # identity) and the wider dedup family keeps minhash_lsh /
    # clusters_lsh / clusters_distributed / simhash_verified
    # dedup_ngram_jaccard promoted back round 12 — see _PROMOTED  # green r2-r10 (nine rounds); in-window
    # dedup_minhash_lsh hashes the IDENTICAL exact-Jaccard oracle, and
    # streaming_blocklist_replay re-verifies the shingle/Jaccard core
    # against the string-trigram recomputation
    # ann_topk promoted back round 12 — see _PROMOTED  # green r2-r10 (eight+ rounds); in-window
    # knn_graph_exact is the richer exact-cosine ranking row and the
    # five ANN contract rows re-verify the cosine/top-k machinery
    # every round
    "profile_drift_events",  # green r9-r10; the drift/PSI profile
    # maths stays pytest-pinned and the richer cross-release twin
    # embedding_drift_releases stays in-window
    # round-11 replay-wave-2 demotions (each green 3-4 committed
    # rounds; family survivors stay in-window):
    "search_hybrid_rrf",  # green r7-r10; the BM25 arm is pytest-pinned
    # (Okapi goldens) and the cosine arm is re-verified in-window by
    # ann_topk + the ANN contract rows; RRF fusion is rank arithmetic
    # pinned by four rounds
    "sample_leakage_safe_splits",  # green r7-r10; composes the PPJoin
    # pair core (in-window dedup_ngram_jaccard) with connected
    # components (in-window dedup_clusters_distributed/lsh) and a
    # map-only hash CASE — every stage keeps an in-window verifier
    "text_scrub_sentences",  # green r8-r10; DIRECT family successor
    # in-window: streaming_sentences_replay verifies the same
    # keep-first scrub through the online twin against the same
    # sentence-split core
    "join_bucketed_colocated",  # green r8-r10; the inner-join values
    # are trivial — the CONTENT of this row is the zero-exchange plan,
    # which stays pinned by the plan-fingerprint gate
    # (tools/plan_fingerprints.py) and its pytest test
    # events_markov_transitions promoted back round 12 — see _PROMOTED  # green r8-r10; lag/transition-count
    # window machinery shared with the sessionize family, whose
    # streaming replay row is now in-window
    # round-11 replay-wave demotions funding the eight streaming
    # batch-replay promotions (each green 4+ committed rounds; family
    # survivors stay in-window):
    "pipeline_release",  # green r4-r10 (seven rounds) — the longest-
    # green extension entry; the curate->mixture->manifest composition
    # stays pinned by those rounds + the budget gate, and the pipeline
    # family keeps pipeline_loso_ablation in-window
    # validate_golden_errors re-promoted round 13 (parser AST goldens)
    # string is separately pinned by the ported server_test.go wire
    # goldens in pytest, and the engine family keeps its four
    # mid-registry rows (fetch_backward, redact_row_backend,
    # insertion_filter_roundtrip, log_roundtrip_query) in-window
    "sample_temperature_mixture",  # green r7-r10; the alpha-sampling
    # reweight shares its per-source scaffolding with in-window
    # sample_leakage_safe_splits; sampling family survivor noted there
    "events_rfm_segments",  # green r7-r10; DIRECT family successor
    # in-window: streaming_rfm_replay re-verifies the per-user metric
    # aggregation end-to-end through the online twin (the ntile
    # scoring boundary fit stays pytest-pinned)
    "dedup_cluster_density",  # green r7-r10; the degree-ordered
    # triangle counting is pinned by four rounds + pytest; dedup
    # family keeps exact/ngram/minhash_lsh/clusters_lsh/
    # clusters_distributed in-window
    "text_dup_sentences",  # green r8-r10; the richer scrub twin
    # text_scrub_sentences AND the online sentence scrub replay stay
    # in-window over the same sentence-split core
    "sample_source_cap_twophase",  # green r8-r10; DIRECT family
    # successor in-window: streaming_source_cap_replay verifies the
    # same at-most-cap-per-source invariant through the online
    # admission twin (the hash-rank competitive selection stays
    # pytest-pinned)
    "dedup_operating_curve",  # green r8-r10; the threshold-sweep
    # rollup is a projection of the PPJoin pair core that
    # dedup_ngram_jaccard keeps verifying in-window
    # round-11 demotions funding the nine verified-twin promotions
    # (every name below is green in 4-5 committed rounds; family
    # survivors stay in-window):
    "events_session_funnel",  # green r6-r10 (five rounds); the
    # lag/cumsum sessionize + chained-min funnel construction stays
    # pinned by those rounds + pytest; events family keeps
    # rolling_outliers / psi_drift / rfm_segments / markov in-window
    "events_seasonality",  # green r7-r10; plain calendar-grid rollup,
    # events family survivors as above
    "sample_quality_percentile",  # green r6-r10; percent_rank gate is
    # re-verified in-window by sample_exact_stratified (same quantile
    # machinery) and the sampling family keeps dsir / stratified /
    # leakage_safe_splits / source_cap_twophase in-window
    "sample_token_budget",  # green r7-r10; the two-pass distributed
    # prefix-sum rank construction is the agg_equi_depth_histogram
    # shape, pinned by four committed rounds + pytest
    "text_bigram_surprisal",  # green r6-r10; surprisal family keeps
    # lexical_diversity + the sentence twins in-window
    "pipeline_novelty_curve",  # green r7-r10; the marginal-novelty
    # accumulation is pinned by four rounds; pipeline family keeps
    # release / datasheet / source_overlap / loso_ablation in-window
    "pipeline_release_delta",  # green r6-r10; the NOT-EXISTS delta
    # admission is re-verified inside in-window pipeline_release's
    # composition and stays pinned in pytest goldens
    "dedup_containment_survivors",  # green r7-r10; the containment
    # pair machinery is PPJoin-family (in-window dedup_ngram_jaccard /
    # minhash_lsh / cluster_best verify the same gram+join core)
    # join_interval_overlap promoted back round 12 — see _PROMOTED  # green r6-r10 (five rounds); the
    # grid-bucketed interval decomposition is pinned by those rounds;
    # join family keeps join_bucketed_colocated in-window
    # round-11 late demotions funding the five late verified-twin
    # promotions (each green 4-5 committed rounds):
    "events_rolling_outliers",  # green r6-r10; the ROWS-frame rolling
    # z-score window machinery is pinned by five rounds; events family
    # keeps rfm_segments + markov_transitions in-window
    "events_psi_drift",  # green r6-r10; the binned-distribution PSI
    # rollup shares its profile maths with in-window
    # profile_drift_events (two-release drift over the same aggregates)
    "sample_exact_stratified",  # green r6-r10; the md5-rank exact
    # stratum cut is the same deterministic hash-rank construction the
    # in-window sampling survivors verify (dsir / temperature /
    # leakage_safe_splits / source_cap_twophase)
    "dedup_cluster_best",  # green r7-r10; the recursive-CTE components
    # + quality-representative choice is re-verified in-window by
    # dedup_clusters_distributed / clusters_lsh (same CTE oracle) and
    # dedup_cluster_density / operating_curve (same pair machinery)
    "pipeline_source_overlap",  # green r7-r10; the (source, gram)
    # postings overlap matrix shares its gram machinery with the
    # in-window PPJoin family; pipeline family keeps release /
    # datasheet / loso_ablation in-window
    "text_lexical_diversity",  # green r7-r10; the TTR/bigram/Zipf
    # aggregates are plain token rollups whose machinery the in-window
    # sentence twins and text_bpe_verified exercise; slot funds
    # dedup_semantic_verified
    "pipeline_datasheet",  # green r6-r10 (five rounds); the per-source
    # datasheet rollup shares its aggregates with in-window
    # pipeline_loso_ablation (same (source,lang) rollup family); slot
    # funds multimodal_phash_verified
    "sample_dsir_select",  # green r7-r10; the hashed-bucket
    # likelihood-ratio machinery keeps its streaming admission twin
    # pinned in pytest and the sampling family keeps
    # temperature_mixture / leakage_safe_splits / source_cap_twophase
    # in-window; slot funds multimodal_spectral_verified
    # round-6 demotions funding the 19 rows-only → oracle promotions.
    # Every name below is green in CORRECTNESS_r05.json (the full
    # window was 50/50) and in earlier rounds; the BFL/engine names are
    # additionally pinned by the 362-row golden corpus, the wire-
    # protocol golden tables over real sockets, and compiler-vs-pyeval
    # differential fuzzing. Families keep in-window survivors:
    # bfl_and_or re-promoted round 13
    "bfl_regex_match",  # P-ops pinned by corpus; query_limit_extract in-window
    # bfl_json_num_cmp re-promoted round 13
    # bfl_wildcard_existential re-promoted round 14
    # bfl_json_base64_probe re-promoted round 14
    # bfl_xml_path re-promoted round 13
    # single_lookup re-promoted round 13
    # query_left_off re-promoted round 13
    # recursive_descent re-promoted round 13
    # macro_expansion_query re-promoted round 13
    "sessionize_gap",  # 30-min sessionization engine re-verified INSIDE
    # the in-window events_session_funnel (same lag/cumsum construction)
    "text_winnow_fingerprints",  # winnow scheme re-verified inside
    # text_winnow_overlap (fingerprints + pair join)
    "text_contamination",  # gram-overlap contamination superseded
    # in-window by span-level text_decontaminate_spans + dedup_spans
    "join_asof_clicks",  # as-of family held by join_asof_tolerance
    "text_lang_profile",  # text-stats family held by text_quality_flags
    "text_repetition",  # bigram machinery held by text_bigram_surprisal
    "embedding_quantize",  # embeddings family held by ann_topk
    "sample_mixture",  # doc-weighted mixture: token-weighted twin
    # sample_token_mixture in-window; sample_quality_topk also in-window
    "pipeline_epoch_order",  # seeded-hash ordering re-verified inside
    # pipeline_curriculum_order (same hash-rank construction + stages)
    # round-6 late demotions funding the three new-capability
    # promotions (each green r2-r5 or r5; family survivors noted):
    "window_range_count",  # trailing-window family held in-window by
    # events_rolling_outliers (ROWS frame + z-score) + session funnels
    "sample_quality_topk",  # quality-quantile family held by
    # sample_quality_percentile (percent_rank) + sample_exact_stratified
    "dedup_incremental",  # admission dedup re-verified INSIDE the
    # in-window pipeline_release_delta composition (same NOT EXISTS)
    "multimodal_meta",  # trivial typed-metadata projection, green
    # r2-r5; the multimodal family's real coverage is the decode/pHash/
    # spectral/fingerprint pytest surface (slot funds
    # join_interval_overlap)
    "text_vocab_topk",  # top-k vocabulary, green r4+r5; token-count
    # family held in-window by text_quality_flags/bm25/surprisal (slot
    # funds pipeline_pack_balanced)
    "profile_orders",  # per-column profiler, green r4+r5; profiling
    # family held in-window by pipeline_datasheet + events_expectations
    # + events_skew_profile (slot funds sample_effective_mass)
    # rows-only entries (genuinely approximate / parse-only): an oracle
    # row beats a rows-only row when the driver truncates the list;
    # each of these is pinned by pytest (incl. the LSH recall gate)
    # dedup_minhash_lsh PROMOTED round 10 (exact-over-candidates +
    # total recall on this corpus — shares the PPJoin pair oracle)
    "dedup_simhash",
    "dedup_simhash_pairs",
    "ann_topk_lsh",
    "ann_topk_ivf",
    "embedding_near_dup",
    "multimodal_decode_stub",
    "multimodal_decode_real",  # real WAV/BMP decode; exact values pinned
    # in pytest (no SQL oracle can decode media containers)
    # round-7 demotions funding the 4 rows-only → full-oracle
    # promotions (dedup_containment / dedup_containment_survivors /
    # sample_exact_n / validate_golden_errors). Families keep
    # in-window survivors:
    "join_length_bands",  # green r3-r6; range-band join machinery held
    # in-window by join_interval_overlap (grid decomposition) +
    # join_asof_tolerance + join_salted_skew
    "pipeline_shards",  # green r3-r6; export family held in-window by
    # pipeline_release/release_balanced/release_delta/datasheet
    "query_limit_extract",  # green r2-r6; L1 limit extraction pinned by
    # the golden corpus + wire page-size table; engine family keeps
    # fetch_backward + insertion_filter_roundtrip + log_roundtrip_query
    "dedup_canonical",  # green r6; canonicalizing group-by shape is
    # dedup_exact's (in-window); NFKC twin pinned in pytest
    "sample_splits",  # green r6; slot funds the search_hybrid_rrf
    # promotion — split family held in-window by sample_exact_stratified
    # + sample_token_mixture + sample_quality_percentile + sample_exact_n
    "ts_gap_fill_hourly",  # green r2-r6; slot funds the
    # pipeline_novelty_curve promotion — calendar-fill semantics pinned
    # by pytest; the hourly-window base is events_* windows in-window
    "text_chunks",  # green r5-r6; slot funds the
    # pipeline_source_overlap promotion — chunk math pinned by
    # test_chunking + the spans-chunk fuzz differential; gram machinery
    # held in-window by dedup_spans/dedup_scrub_spans
    "pii_scrub_events",  # green r1-r6 (six straight rounds); slot
    # funds the dedup_cluster_best promotion — the regexp scrub
    # machinery is redact's (in-window redact_row_backend) and the
    # PII patterns are pinned by pytest goldens
    "sample_source_cap",  # green r5-r6; slot funds the
    # sample_dsir_select promotion — the cap family keeps
    # sample_token_mixture in-window and the two-phase twin plus the
    # streaming admission twin stay pinned in pytest
    "dedup_spans",  # green r5-r6; slot funds the
    # text_lexical_diversity promotion — the span family keeps its two
    # strictly-richer twins in-window (dedup_scrub_spans rewrites the
    # SAME spans; text_decontaminate_spans reuses the gram machinery)
    "text_bm25_topk",  # green r5-r6; slot funds the
    # sample_token_budget promotion — the Okapi BM25 machinery (same
    # idf/k1/b formulas) is re-verified every round inside the
    # in-window search_hybrid_rrf oracle
    "text_unigram_surprisal",  # green r5-r6; slot funds the
    # sample_temperature_mixture promotion — the surprisal family
    # keeps its strictly-richer bigram twin in-window, and the
    # bounded/broadcast scale form stays differential-gated in pytest
    "agg_cube_orders",  # green r3-r6 (four straight rounds); slot
    # funds the sample_leakage_safe_splits promotion — the
    # grouping-sets engine is pinned by those four committed rounds
    # and the relational family keeps agg_equi_depth_histogram plus
    # the events rollups in-window
    "join_asof_tolerance",  # green r5-r6; slot funds the
    # sample_weighted_draw promotion — the asof machinery keeps its
    # NULL-proofed correlated-subquery oracle (re-runnable any round),
    # the join family holds join_interval_overlap in-window, and the
    # streaming asof twin stays pinned in pytest
    "join_salted_skew",  # green r3-r6 (four straight rounds); slot
    # funds the events_rfm_segments promotion — the salting rewrite is
    # pinned by those four rounds + the plan-shape test, and the join
    # family holds join_interval_overlap in-window
    "pipeline_release_balanced",  # green r5-r6; slot funds the
    # events_seasonality promotion — the release family keeps
    # pipeline_release / release_delta / curriculum / datasheet
    # in-window and the balance gates stay pinned in pytest
    "text_quality_flags",  # green r5-r6; slot funds the
    # dedup_cluster_density promotion — the quality-gate exprs are
    # re-verified every round inside in-window pipeline_curate /
    # pipeline_release, and the flag semantics stay pinned in pytest
    # round-8 demotions funding the 2 rows-only → full-oracle
    # promotions (sample_source_cap_twophase / dedup_operating_curve):
    "agg_equi_depth_histogram",  # green r6-r7; the distributed
    # two-pass rank construction (range partitions + pid-local windows
    # + P-row offsets) is re-verified every round INSIDE the in-window
    # sample_token_budget oracle (identical shape per docs/TUNING.md);
    # the approx twin's sketch bounds stay pinned in pytest
    "text_winnow_overlap",  # green r6-r7; the winnowing fingerprint
    # scheme + fp-keyed pair join stay pinned by pytest goldens, and
    # the gram-machinery family keeps dedup_scrub_spans /
    # text_decontaminate_spans / text_phrase_search in-window
    "events_funnel_steps",  # green r6-r7; slot funds the
    # dedup_clusters_distributed promotion — the chained-min funnel
    # derivation is re-verified every round INSIDE the in-window
    # events_session_funnel (the strictly-richer sessionized variant
    # of the same construction), and the events family keeps
    # rfm_segments / seasonality / rolling_outliers in-window
    "text_decontaminate_spans",  # green r6-r7; slot funds the
    # text_dup_sentences promotion — the positional gram machinery is
    # dedup_scrub_spans' (in-window, the same spans rewritten) and the
    # benchmark-overlap semantics stay pinned in pytest goldens
    "events_cohort_retention",  # green r6-r7; slot funds the
    # text_scrub_sentences promotion — plain calendar-bucket rollup
    # pinned by two committed rounds + pytest DuckDB differential; the
    # events family keeps session_funnel / rfm / seasonality /
    # rolling_outliers / psi / skew / expectations in-window
    "sample_effective_mass",  # green r6-r7; slot funds the
    # events_markov_transitions promotion — the dedup-aware token-mass
    # rollup machinery is re-verified in-window by
    # sample_temperature_mixture (the same per-source token-mass
    # aggregate feeds its tempered weights) and pipeline_datasheet's
    # per-source token/dup columns
    "sample_token_mixture",  # green r6-r7; slot funds the
    # join_bucketed_colocated promotion — the token-mass + hash-rate
    # machinery is re-verified in-window by the strictly-richer
    # sample_temperature_mixture (tempered weights + allocations +
    # rates over the same per-source token masses), and the sampling
    # family keeps dsir / weighted_draw / exact_n / stratified
    # in-window
    # oracle-backed but semantically redundant with in-window entries
    # plus the 362-row golden corpus and compiler-vs-pyeval fuzzing;
    # every name below already has a green hash-checked row in
    # CORRECTNESS_r02.json, so demotion loses no hard signal
    "agg_hourly_window",  # hourly counts re-verified inside ts_gap_fill_hourly
    # bfl_eq_string re-promoted round 14
    "join_supplier_rollup",  # join+agg covered by join_top_revenue/pivot/cube
    "window_top_orders",  # windows covered by window_range_count/sessionize
    # fetch_forward re-promoted round 13
    "distinct_event_types",  # distinct covered by dedup_exact + agg entries
    "semi_join_customers",  # twin of in-window anti_join_customers
    # bfl_time_window re-promoted round 13
    "text_token_stats",  # token surface covered by text_quality/regex_tokens
    # bfl_json_key_eq re-promoted round 14
    # bfl_neq_string / bfl_cmp_gt / bfl_cmp_le / bfl_startswith /
    # bfl_endswith / bfl_contains / bfl_not / bfl_bare_path_truthy /
    # bfl_index_select re-promoted round 14 (the r02-vintage recall)
    "text_fingerprint",
    "agg_revenue_q6",
    "agg_daily_events",
    "join_mktsegment",
    "union_users",
    "agg_count_distinct",
    # round-4 demotions (each green in CORRECTNESS_r02/r03; the family
    # stays represented in-window by the named survivor)
    "agg_rollup_orders",  # grouping-sets engine covered by agg_cube_orders
    # bfl_collapse_missing re-promoted round 14
    "agg_value_median",  # exact-percentile agg; the agg family keeps
    # pricing_summary/cube/pivot in-window and the sketch twin pins error
    "join_top_revenue",  # broadcast join+agg family held in-window by
    # agg_pricing_summary/cube/pivot/length-bands/salted-join
    # redact_typed_fast re-promoted round 14
    "pipeline_funnel",  # monitoring view over the same funnel whose
    # composed result pipeline_release now verifies end-to-end in-window
    # dedup_clusters_lsh PROMOTED round 10 (exact-recall on this
    # corpus, shares the recursive-CTE oracle — see _PROMOTED)
    "agg_heavy_hitters",  # frequent-items sketch; tie-ambiguous raw
    # top-k rows stay rows-only — the driver-verified parity twin
    # agg_heavy_hitters_verified is in-window; accuracy also in pytest
    "ann_topk_pq",  # recall-approximate; floor pinned in pytest
    "ann_topk_ivfpq",  # composed index; recall floor pinned in pytest
    # round-5 late demotions (each green r2/r3/r4 or r3/r4; families
    # keep in-window survivors) funding the four new-family promotions
    "pipeline_pack",  # pipeline family held by curate/shards/release/
    # epoch_order/release_balanced; packing rule pinned in pytest
    "anti_join_customers",  # left-anti semantics held in-window by
    # dedup_incremental; relational family by cube/profile/length-bands
    # bfl_time_arith_fold re-promoted round 14
    "agg_pricing_summary",  # partial-agg family held by cube/profile;
    # still benched every round as a headline query
    "multimodal_features",  # values pinned against a Python reference in pytest
    # round-5 demotions funding the four promotions above (each green
    # in CORRECTNESS_r02+r03+r04; the family keeps in-window survivors)
    "multimodal_frames",  # multimodal family held by multimodal_meta
    "text_langid",  # langid re-verified inside in-window text_lang_profile
    "sample_stratified",  # sampling family held by sample_mixture/quality_topk
    "text_tokens_by_source",  # token-count family held by text_vocab_topk
    # + text_quality (slot funds the text_bm25_topk promotion)
    "text_regex_tokens",  # regex token counting; same family cover (slot
    # funds the text_unigram_surprisal promotion)
    "pivot_segment_status",  # pivot projection over the grouping-sets
    # engine that in-window agg_cube_orders exercises (slot funds the
    # pipeline_epoch_order promotion)
    # round-9 demotions funding the 3 rows-only → full-oracle
    # promotions (profile_drift_events / embedding_drift_releases /
    # ann_index_persisted):
    "dedup_clusters",  # green r2-r8 (seven straight rounds); its
    # forced-distributed twin dedup_clusters_distributed stays
    # in-window and hashes the IDENTICAL recursive-CTE oracle, so the
    # component semantics are still driver-verified every round — only
    # the redundant driver-union-find fast path leaves the window
    "dedup_containment",  # green r7-r8; the strictly-richer in-window
    # dedup_containment_survivors consumes the SAME A-prefix PPJoin
    # pair machinery (pairs → survivor rewrite), so the containment
    # join is re-verified inside it; the exact pair list stays pinned
    # by the brute-force differential in pytest
    "sample_exact_n",  # green r7-r8; the sampling family keeps
    # sample_exact_stratified (the same hash-rank take-n per stratum),
    # sample_weighted_draw, sample_temperature_mixture and
    # sample_dsir_select in-window
    # round-10 demotions funding the privacy_k_anonymity /
    # pipeline_loso_ablation / agg_quantiles_verified / agg_hll_verified
    # promotions (each green r6-r9, four committed rounds):
    "events_skew_profile",  # the skew-profile rollup's machinery
    # (per-key counts + ratio maths) is re-verified in-window by
    # profile_drift_events (same profiling aggregates, two releases)
    # and pipeline_datasheet; the salting guidance it feeds stays
    # plan-tested in pytest
    "pipeline_curriculum_order",  # the hash-rank curriculum order is
    # the same deterministic md5-rank construction in-window
    # sample_exact_stratified and pipeline_pack_balanced verify; the
    # epoch-stage composition stays pinned in pytest goldens
    "dedup_scrub_spans",  # gram-span machinery held in-window by
    # text_dup_sentences / text_scrub_sentences (the sentence-keyed
    # rewrite twins) and the PPJoin family; span arithmetic stays
    # under the spans-fuzz pytest gate
    "text_phrase_search",  # positional-gram search; the gram postings
    # construction is shared with the in-window dedup family and
    # search_hybrid_rrf keeps the retrieval family verified
    "events_expectations",  # green r6-r9; the null-ratio / range /
    # cardinality expectation aggregates are the same profile maths
    # in-window profile_drift_events recomputes over two releases,
    # and pipeline_datasheet carries the corpus-side expectations
    "pipeline_pack_balanced",  # green r6-r9; the LPT-serpentine rank
    # math is pure integer window arithmetic pinned in pytest and the
    # packing family keeps pipeline_pack there; release/datasheet
    # carry the manifest surface in-window — slot funds knn_graph_exact
    "text_boilerplate",  # green r6-r9; the cross-doc duplicate-line
    # mass is the same line/sentence-keyed duplicate accounting the
    # in-window text_dup_sentences / text_scrub_sentences twins verify,
    # and the df-ratio machinery is PPJoin-family — slot funds the
    # dedup_minhash_lsh promotion
    # round-10 demotions funding the dedup_clusters_lsh and
    # agg_heavy_hitters_verified promotions:
    # pipeline_curate promoted back round 12 — see _PROMOTED  # green r2-r9 (eight straight rounds); its
    # quality-gate + dedup-survivor CTE chain is re-verified EVERY
    # round inside in-window pipeline_release (whose oracle embeds the
    # identical _CURATE_CTES prefix) and pipeline_release_delta /
    # datasheet consume the same machinery
    "sample_weighted_draw",  # green r7-r9; the Efraimidis-Spirakis
    # hash-keyed draw machinery (md5-rank per row, take-n) is the same
    # construction in-window sample_exact_stratified verifies per
    # stratum, and the sampling family keeps dsir / token_budget /
    # temperature_mixture / leakage_safe_splits / quality_percentile /
    # source_cap_twophase in-window; the ES-key math stays pinned in
    # pytest
]


def _finalize_order() -> None:
    unknown = [n for n in _PROMOTED + _DEMOTED if n not in SPARK_QUERIES]
    if unknown:
        raise RuntimeError(f"registry order lists unknown entries: {unknown}")
    both = set(_PROMOTED) & set(_DEMOTED)
    if both:
        # A name in both lists silently wins its promoted slot (dict
        # insertion order dedupes) and the "demotion" frees nothing —
        # exactly the round-4 pipeline_funnel bug. Refuse outright.
        raise RuntimeError(f"entries both promoted and demoted: {sorted(both)}")
    order = [n for n in _PROMOTED]
    order += [n for n in SPARK_QUERIES if n not in _PROMOTED and n not in _DEMOTED]
    order += [n for n in _DEMOTED]
    for d in (SPARK_QUERIES, ORACLES):
        items = {n: d[n] for n in order}
        d.clear()
        d.update(items)


_finalize_order()


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: a BFL filter mixing typed comparison, JSON extraction
    and boolean structure — parse → compile → Catalyst → codegen →
    pushed-down Parquet scan."""
    return _bfl_events(
        '(event_type == "click" and value > 10) or props.json().k > 75'
    )(spark, sf_dir)

