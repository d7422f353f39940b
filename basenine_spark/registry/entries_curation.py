"""Round-6+ curation/analytics entries -- split from the monolithic registry.py (round 12);
registration ORDER is load-bearing (the driver window is the first
50 iteration-order entries) and is preserved by the import sequence
in __init__.py."""


from ..ops import dedup, pipeline, relational, sampling, text, timeseries

from ._core import ORACLES, QueryFn, SPARK_QUERIES, _register  # noqa: F401

# ---------------------------------------------------------------------------
# Round-6 additions: boilerplate mass, exact stratified eval sets,
# corpus datasheet
# ---------------------------------------------------------------------------

_register(
    "text_boilerplate",
    lambda s, d: text.boilerplate_ratio(s, d),
    # within-corpus boilerplate mass: fraction of each doc's positional
    # 5-gram occurrences whose gram repeats (df >= 2) corpus-wide —
    # the C4 template/chrome signal; planted goldens in
    # tests/test_round6_ops.py
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS l
      FROM documents WHERE text IS NOT NULL
    ), grams AS (
      SELECT doc_id,
             array_to_string(list_slice(l, pos, pos + 4), ' ') AS gram
      FROM (
        SELECT doc_id, l, unnest(generate_series(1, len(l) - 4)) AS pos
        FROM toks WHERE len(l) >= 5
      )
    ), dfreq AS (
      SELECT gram, count(*) AS df FROM grams GROUP BY gram
    )
    SELECT doc_id, count(*)::BIGINT AS n_grams,
           sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_boiler,
           round(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)
                 / count(*)::DOUBLE, 6) AS boiler_ratio
    FROM grams JOIN dfreq USING (gram) GROUP BY doc_id
    """,
)

_register(
    "sample_exact_stratified",
    lambda s, d: sampling.exact_stratified_sample(s, d),
    # EXACTLY-100 stratified eval set via largest-remainder (Hamilton)
    # apportionment — all-integer quota math, content-stable per-source
    # hash rank; hand-apportionment goldens in tests/test_round6_ops.py
    """
    WITH counts AS (
      SELECT source, count(*) AS n_src FROM documents GROUP BY source
    ), tot AS (SELECT sum(n_src) AS n_total FROM counts),
    sized AS (
      SELECT source, n_src,
             (100 * n_src) // (SELECT n_total FROM tot) AS floor_q,
             (100 * n_src) % (SELECT n_total FROM tot) AS rem
      FROM counts
    ), seats AS (SELECT 100 - sum(floor_q) AS r FROM sized),
    quotas AS (
      SELECT source,
             least(floor_q + CASE WHEN row_number() OVER
                     (ORDER BY rem DESC, source ASC)
                     <= (SELECT r FROM seats) THEN 1 ELSE 0 END,
                   n_src) AS quota
      FROM sized
    ), ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY substring(md5('strat' || cast(doc_id AS VARCHAR)),
                                  1, 8),
                        doc_id
             ) AS strat_rank
      FROM documents
    )
    SELECT r.doc_id, r.source, r.strat_rank
    FROM ranked r JOIN quotas q USING (source)
    WHERE r.strat_rank <= q.quota
    """,
)

_register(
    "pipeline_datasheet",
    lambda s, d: pipeline.corpus_datasheet(s, d),
    # per-source release datasheet incl. the CROSS-source exact-dup
    # footprint (hash counted corpus-wide, flagged in every source it
    # touches); cross-source golden in tests/test_round6_ops.py
    """
    WITH base AS (
      SELECT doc_id, source, lang,
             len(string_split(text, ' '))::BIGINT AS n_toks,
             n_chars::BIGINT AS n_chars, md5(text) AS h
      FROM documents WHERE text IS NOT NULL
    ), dup AS (
      SELECT h FROM base GROUP BY h HAVING count(*) > 1
    )
    SELECT source, count(*)::BIGINT AS n_docs,
           sum(n_toks)::BIGINT AS n_tokens,
           sum(n_chars)::BIGINT AS n_chars,
           count(DISTINCT lang)::BIGINT AS n_langs,
           sum(CASE WHEN h IN (SELECT h FROM dup) THEN 1 ELSE 0 END)::BIGINT
             AS n_dup_docs,
           FLOOR(sum(CASE WHEN h IN (SELECT h FROM dup) THEN 1 ELSE 0 END)
                 / count(*)::DOUBLE * 1e6 + 0.5) / 1e6 AS dup_ratio
    FROM base GROUP BY source
    """,
)

_CORPUS_GRAMS_SQL = """
  SELECT DISTINCT source, gram FROM (
    SELECT source, unnest(CASE WHEN len(toks) >= 3
      THEN list_transform(range(1, len(toks) - 1),
                          i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
      ELSE [] END) AS gram
    FROM (SELECT source, string_split(text, ' ') AS toks
          FROM documents WHERE text IS NOT NULL))
"""

_register(
    "pipeline_novelty_curve",
    lambda s, d: pipeline.source_novelty_curve(s, d),
    # round-7 corpus-composition analytics: greedy marginal gram
    # coverage per source (credit each gram to its lexicographically
    # first holder) — the facility-location/coverage curation signal.
    # Spark counts 64-bit hashed grams, the oracle string grams:
    # identical modulo negligible collisions (dedup_ngram_jaccard
    # precedent).
    f"""
    WITH g AS ({_CORPUS_GRAMS_SQL}),
    totals AS (SELECT source, count(*) AS total_grams FROM g GROUP BY source),
    novel AS (
      SELECT first_source AS source, count(*) AS novel_grams FROM (
        SELECT gram, min(source) AS first_source FROM g GROUP BY gram)
      GROUP BY first_source)
    SELECT t.source, t.total_grams,
           coalesce(n.novel_grams, 0) AS novel_grams,
           FLOOR(CAST(coalesce(n.novel_grams, 0) AS DOUBLE)
                 / CAST(t.total_grams AS DOUBLE) * 1e6 + 0.5) / 1e6
             AS novelty_ratio
    FROM totals t LEFT JOIN novel n ON n.source = t.source
    """,
)

_register(
    "pipeline_source_overlap",
    lambda s, d: pipeline.source_overlap_matrix(s, d),
    # round-7 corpus-composition analytics: pairwise source n-gram
    # Jaccard via gram-keyed postings join (never document-pairwise);
    # the exact uncapped form — the max_holders df-cap is the
    # documented crawl-scale mode (see source_overlap_matrix docstring)
    f"""
    WITH g AS ({_CORPUS_GRAMS_SQL}),
    sz AS (SELECT source, count(*) AS sz FROM g GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b, count(*) AS inter
      FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
      GROUP BY a.source, b.source)
    SELECT source_a, source_b, inter,
           FLOOR(CAST(inter AS DOUBLE)
                 / CAST(sa.sz + sb.sz - inter AS DOUBLE) * 1e6 + 0.5) / 1e6
             AS jaccard
    FROM inter
    JOIN sz sa ON sa.source = source_a
    JOIN sz sb ON sb.source = source_b
    """,
)

_register(
    "join_interval_overlap",
    lambda s, d: timeseries.session_error_overlap(s, d),
    # interval-overlap join WITHOUT a cartesian stage (grid-cell equi
    # candidates + exact verify): sessions x (±5 min error windows),
    # deliberately cross-user; the oracle is DuckDB's native non-equi
    # range join over the same session/interval derivations.
    # brute-force parity + no-cartesian plan gates in
    # tests/test_round6_ops.py
    """
    WITH e AS (
      SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), flagged AS (
      SELECT user_id, ts_ms, event_id,
             CASE WHEN ts_ms - lag(ts_ms) OVER
                    (PARTITION BY user_id
                     ORDER BY ts_ms, event_id NULLS FIRST) > 1800000
                  THEN 1 ELSE 0 END AS f
      FROM e
    ), sid AS (
      SELECT user_id, ts_ms,
             CAST(SUM(f) OVER (PARTITION BY user_id
                               ORDER BY ts_ms, event_id NULLS FIRST
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
      FROM flagged
    ), sessions AS (
      SELECT user_id, session_no,
             MIN(ts_ms) AS session_start_ms,
             MAX(ts_ms) AS session_end_ms
      FROM sid GROUP BY 1, 2
    ), errors AS (
      SELECT event_id AS error_event_id,
             epoch_ms(ts) - 300000 AS err_start_ms,
             epoch_ms(ts) + 300000 AS err_end_ms
      FROM events WHERE event_type = 'error' AND ts IS NOT NULL
    )
    SELECT s.user_id, s.session_no, s.session_start_ms, s.session_end_ms,
           e.error_event_id, e.err_start_ms, e.err_end_ms,
           least(s.session_end_ms, e.err_end_ms)
             - greatest(s.session_start_ms, e.err_start_ms) AS overlap_ms
    FROM sessions s JOIN errors e
      ON s.session_start_ms <= e.err_end_ms
     AND e.err_start_ms <= s.session_end_ms
    """,
)

_register(
    "sample_effective_mass",
    lambda s, d: sampling.effective_token_mass(s, d),
    # dedup-aware per-source token accounting: EFFECTIVE mass counts
    # only exact-dedup canonical survivors (min-doc_id per corpus-wide
    # content hash) — the number mixture weights should target;
    # cross-source mirror golden in tests/test_round6_ops.py
    """
    WITH base AS (
      SELECT doc_id, source,
             len(string_split(text, ' '))::BIGINT AS n_toks,
             md5(text) AS h
      FROM documents WHERE text IS NOT NULL
    ), surv AS (
      SELECT h, min(doc_id) AS doc_id FROM base GROUP BY h
    ), eff AS (
      SELECT b.source, b.n_toks
      FROM base b JOIN surv s ON b.h = s.h AND b.doc_id = s.doc_id
    ), raw AS (
      SELECT source, count(*)::BIGINT AS n_docs,
             sum(n_toks)::BIGINT AS tokens_raw
      FROM base GROUP BY source
    ), kept AS (
      SELECT source, sum(n_toks)::BIGINT AS tokens_effective
      FROM eff GROUP BY source
    )
    SELECT r.source, r.n_docs, r.tokens_raw,
           coalesce(k.tokens_effective, 0) AS tokens_effective,
           floor(coalesce(k.tokens_effective, 0)
                 / r.tokens_raw::DOUBLE * 1e6 + 0.5) / 1e6 AS efficiency
    FROM raw r LEFT JOIN kept k USING (source)
    """,
)

_register(
    "pipeline_pack_balanced",
    lambda s, d: pipeline.pack_balanced(s, d),
    # token-balanced fixed-bin packing (LPT-serpentine): rank by token
    # count desc, deal boustrophedon — integer rank math, engine-exact.
    # balance-quality gates in tests/test_round6_ops.py
    """
    WITH sized AS (
      SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
      FROM documents WHERE text IS NOT NULL
    ), ranked AS (
      SELECT doc_id, n_tokens,
             row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rank
      FROM sized
    )
    SELECT doc_id, n_tokens, rank,
           CAST(CASE WHEN ((rank - 1) // 16) % 2 = 0
                     THEN (rank - 1) % 16
                     ELSE 15 - ((rank - 1) % 16) END AS INT) AS bin_id
    FROM ranked
    """,
)

_register(
    "sample_dsir_select",
    lambda s, d: sampling.dsir_select(s, d),
    # DSIR-style importance selection (Xie et al. 2023): per-doc mean
    # log ratio of two add-0.5-smoothed unigram LMs (target slice
    # lang='fr' vs the rest), top-200 of the raw pool.  Exact form over
    # the joint vocabulary (no OOV by construction); the hashed-bucket
    # scale mode is gated in tests/test_dsir.py
    """
    WITH docs AS (
      SELECT doc_id, source, lang, text FROM documents
      WHERE text IS NOT NULL
    ), toks AS (
      SELECT doc_id, (lang = 'fr') AS is_t, t.tok AS token
      FROM docs, UNNEST(string_split(text, ' ')) AS t(tok)
      WHERE t.tok <> ''
    ), vocab AS (
      SELECT token,
             SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
             SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS cr
      FROM toks GROUP BY token
    ), stats AS (
      SELECT CAST(SUM(ct) AS DOUBLE) AS tt,
             CAST(SUM(cr) AS DOUBLE) AS tr,
             CAST(COUNT(*) AS DOUBLE) AS v
      FROM vocab
    ), ratio AS (
      SELECT token,
             ln((ct + 0.5) / (tt + 0.5 * v))
               - ln((cr + 0.5) / (tr + 0.5 * v)) AS lw
      FROM vocab, stats
    ), scored AS (
      SELECT toks.doc_id,
             FLOOR(AVG(lw) * 1e4 + 0.5) / 1e4 AS dsir_weight,
             COUNT(*) AS n_tokens
      FROM toks JOIN ratio USING (token)
      WHERE NOT is_t
      GROUP BY toks.doc_id
    )
    SELECT s.doc_id, d.source, d.lang, s.dsir_weight, s.n_tokens,
           CAST(ROW_NUMBER() OVER (
             ORDER BY s.dsir_weight DESC, s.doc_id ASC) AS BIGINT) AS rank
    FROM scored s JOIN docs d ON s.doc_id = d.doc_id
    ORDER BY s.dsir_weight DESC, s.doc_id ASC
    LIMIT 200
    """,
)

_register(
    "text_lexical_diversity",
    lambda s, d: text.lexical_diversity(s, d),
    # per-source lexical diagnostics: type-token ratio, distinct-bigram
    # ratio (distinct-n, Li et al. 2016), and the Zipf slope of the
    # top-100 token frequencies (closed-form least squares) —
    # planted-corpus semantics in tests/test_lexical_diversity.py
    """
    WITH docs AS (
      SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS a
      FROM documents WHERE text IS NOT NULL
    ), uni AS (
      SELECT source, t.token, COUNT(*) AS cnt
      FROM docs, UNNEST(a) AS t(token)
      GROUP BY source, t.token
    ), uni_stats AS (
      SELECT source, SUM(cnt)::BIGINT AS tokens_total,
             COUNT(*)::BIGINT AS types
      FROM uni GROUP BY source
    ), bi AS (
      SELECT source, g.gram, COUNT(*) AS cnt
      FROM (
        SELECT source,
               CASE WHEN len(a) >= 2
                    THEN list_transform(range(1, len(a)),
                                        i -> a[i] || ' ' || a[i+1])
                    ELSE [] END AS grams
        FROM docs
      ), UNNEST(grams) AS g(gram)
      GROUP BY source, g.gram
    ), bi_stats AS (
      SELECT source, SUM(cnt)::BIGINT AS bigrams_total,
             COUNT(*)::BIGINT AS bigrams_distinct
      FROM bi GROUP BY source
    ), ranked AS (
      SELECT source, token, cnt,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY cnt DESC, token ASC) AS rank
      FROM uni
    ), xy AS (
      SELECT source, ln(rank::DOUBLE) AS x, ln(cnt::DOUBLE) AS y
      FROM ranked WHERE rank <= 100
    ), zipf AS (
      SELECT source,
             FLOOR((SUM(x*y) - COUNT(*)*AVG(x)*AVG(y))
                   / (SUM(x*x) - COUNT(*)*AVG(x)*AVG(x)) * 1e4 + 0.5)
               / 1e4 AS zipf_slope
      FROM xy GROUP BY source
    )
    SELECT u.source, u.tokens_total, u.types,
           FLOOR(u.types / u.tokens_total::DOUBLE * 1e6 + 0.5) / 1e6 AS ttr,
           COALESCE(b.bigrams_total, 0)::BIGINT AS bigrams_total,
           COALESCE(b.bigrams_distinct, 0)::BIGINT AS bigrams_distinct,
           CASE WHEN COALESCE(b.bigrams_total, 0) > 0
                THEN FLOOR(b.bigrams_distinct / b.bigrams_total::DOUBLE
                           * 1e6 + 0.5) / 1e6
           END AS bigram_distinct_ratio,
           z.zipf_slope
    FROM uni_stats u
    LEFT JOIN bi_stats b USING (source)
    LEFT JOIN zipf z USING (source)
    ORDER BY u.source
    """,
)

_register(
    "sample_token_budget",
    lambda s, d: sampling.select_token_budget(s, d),
    # greedy quality-first selection under a global token budget
    # (prefix semantics: take in (stop_ratio DESC, doc_id) order while
    # the running total fits).  Spark side is the distributed two-pass
    # prefix sum (range partitions + per-range local windows + P-row
    # offsets); the oracle is the plain window cumsum — identical
    # output by construction.  Boundary semantics in
    # tests/test_token_budget.py
    """
    WITH q AS (
      SELECT doc_id,
             FLOOR(len(list_filter(string_split(text, ' '),
                   x -> x IN ('a', 'the')))
               / CAST(len(string_split(text, ' ')) AS DOUBLE) * 1e6 + 0.5)
               / 1e6 AS stop_ratio,
             len(string_split(text, ' '))::BIGINT AS n_tokens
      FROM documents WHERE text IS NOT NULL
    ), c AS (
      -- CAST: window SUM is HUGEINT in DuckDB (Arrow decimal128) while
      -- Spark emits bigint — see events_session_funnel note / VERDICT r7
      SELECT doc_id, stop_ratio, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY stop_ratio DESC, doc_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_tokens,
             ROW_NUMBER() OVER (ORDER BY stop_ratio DESC, doc_id ASC)::BIGINT
               AS sel_rank
      FROM q WHERE n_tokens > 0
    )
    SELECT doc_id, stop_ratio, n_tokens, cum_tokens, sel_rank
    FROM c WHERE cum_tokens <= 10000
    """,
)

_register(
    "sample_temperature_mixture",
    lambda s, d: sampling.temperature_mixture(s, d),
    # temperature-based mixture reweighting (XLM-R / mT5 alpha
    # sampling): per-source tempered weights, token allocations under
    # a 10k budget, and implied per-source sampling rates.  Alpha
    # limit cases (1 -> proportional, 0 -> uniform) pinned in
    # tests/test_temperature_mixture.py
    """
    WITH mass AS (
      SELECT source, SUM(len(string_split(text, ' ')))::BIGINT AS mass
      FROM documents WHERE text IS NOT NULL
      GROUP BY source
    ), totals AS (
      SELECT CAST(SUM(mass) AS DOUBLE) AS total_mass,
             SUM(pow(mass::DOUBLE, 0.3)) AS z
      FROM mass
    )
    SELECT source, mass,
           FLOOR(mass::DOUBLE / total_mass * 1e6 + 0.5) / 1e6 AS p_raw,
           FLOOR(pow(mass::DOUBLE, 0.3) / z * 1e6 + 0.5) / 1e6 AS w_temp,
           FLOOR(10000.0 * pow(mass::DOUBLE, 0.3) / z)::BIGINT
             AS alloc_tokens,
           LEAST(1.0,
                 FLOOR(FLOOR(10000.0 * pow(mass::DOUBLE, 0.3) / z)
                       / mass::DOUBLE * 1e6 + 0.5) / 1e6) AS sample_rate
    FROM mass, totals
    ORDER BY source
    """,
)

_register(
    "sample_leakage_safe_splits",
    lambda s, d: sampling.leakage_safe_splits(s, d),
    # leakage-safe split assignment: near-dup components (the
    # dedup_clusters recursive-CTE construction) share one
    # content-stable md5-threshold split keyed on the cluster label —
    # near-duplicates can never straddle train/test.  Same-split
    # invariant + planted-leak test in tests/test_leakage_splits.py
    """
    WITH RECURSIVE t AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3
               THEN list_transform(range(1, len(toks) - 1),
                                   i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
               ELSE [] END) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM t a, t b
      WHERE a.doc_id < b.doc_id
        AND FLOOR(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / CAST(len(a.sh) + len(b.sh)
                         - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  * 1e6 + 0.5) / 1e6 >= 0.4
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ), reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), comp AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
      FROM reach GROUP BY a
    ), labeled AS (
      SELECT d.doc_id, d.source,
             COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    )
    SELECT doc_id, source, cluster_id,
           CASE
             WHEN substring(md5('lsplit' || CAST(cluster_id AS VARCHAR)), 1, 8)
                  < 'e6666666' THEN 'train'
             WHEN substring(md5('lsplit' || CAST(cluster_id AS VARCHAR)), 1, 8)
                  < 'f3333333' THEN 'val'
             ELSE 'test'
           END AS split
    FROM labeled
    """,
)

_register(
    "sample_weighted_draw",
    lambda s, d: sampling.weighted_sample(s, d),
    # Efraimidis-Spirakis weighted sampling without replacement
    # (exponential clocks, content-stable): k smallest -ln(u)/w keys
    # with u derived from md5(salt||doc_id) — exact-size token-mass-
    # proportional draw.  Weight bias + determinism in
    # tests/test_weighted_sample.py
    """
    WITH sized AS (
      SELECT doc_id, source, len(string_split(text, ' '))::BIGINT AS n_tokens
      FROM documents WHERE text IS NOT NULL
    ), keyed AS (
      SELECT doc_id, source, n_tokens,
             FLOOR(-ln((('0x' || substring(md5('wres' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
                       / 4294967296.0)
                   / n_tokens::DOUBLE * 1e10 + 0.5) / 1e10 AS key
      FROM sized WHERE n_tokens > 0
    )
    SELECT doc_id, source, n_tokens, key,
           ROW_NUMBER() OVER (ORDER BY key ASC, doc_id ASC)::BIGINT
             AS draw_rank
    FROM keyed
    ORDER BY key ASC, doc_id ASC
    LIMIT 100
    """,
)

_register(
    "events_rfm_segments",
    lambda s, d: timeseries.rfm_segments(s, d),
    # RFM behavioral segmentation: per-user recency/frequency/monetary
    # rollup, each ntile-bucketed 1..5 with full tie-break ordering
    # (both engines split ties identically).  NULL user_id/ts dropped,
    # mirrored.  Bucket invariants in tests/test_behavior_analytics.py
    """
    WITH e AS (
      SELECT user_id, epoch_ms(ts) AS ts_ms, value
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), per_user AS (
      SELECT user_id, MAX(ts_ms) AS recency_ms, COUNT(*)::BIGINT AS frequency,
             FLOOR(COALESCE(SUM(value), 0.0) * 1e4 + 0.5) / 1e4 AS monetary
      FROM e GROUP BY user_id
    ), scored AS (
      SELECT user_id, recency_ms, frequency, monetary,
             NTILE(5) OVER (ORDER BY recency_ms ASC, user_id ASC)::INT
               AS r_score,
             NTILE(5) OVER (ORDER BY frequency ASC, user_id ASC)::INT
               AS f_score,
             NTILE(5) OVER (ORDER BY monetary ASC, user_id ASC)::INT
               AS m_score
      FROM per_user
    )
    SELECT user_id, recency_ms, frequency, monetary,
           r_score, f_score, m_score,
           concat_ws('-', r_score::VARCHAR, f_score::VARCHAR,
                     m_score::VARCHAR) AS rfm
    FROM scored
    """,
)

_register(
    "events_seasonality",
    lambda s, d: timeseries.seasonality_profile(s, d),
    # hour-of-day x day-of-week activity grid with chi-square
    # uniformity terms; dow/hod from pure epoch-millis integer math
    # (no calendar functions → no tz/calendar drift between engines).
    # Grid/chi2 invariants in tests/test_behavior_analytics.py
    """
    WITH e AS (
      SELECT epoch_ms(ts) AS ts_ms FROM events WHERE ts IS NOT NULL
    ), cells AS (
      SELECT ((FLOOR(ts_ms / 86400000) + 4) % 7)::INT AS dow,
             (FLOOR(ts_ms / 3600000) % 24)::INT AS hod,
             COUNT(*)::BIGINT AS n_events
      FROM e GROUP BY 1, 2
    ), total AS (SELECT SUM(n_events)::BIGINT AS n_total FROM cells)
    SELECT dow, hod, n_events,
           FLOOR(n_events / n_total::DOUBLE * 1e6 + 0.5) / 1e6 AS share,
           FLOOR(pow(n_events - n_total / 168.0, 2.0)
                 / (n_total / 168.0) * 1e6 + 0.5) / 1e6 AS chi2_term
    FROM cells, total
    ORDER BY dow, hod
    """,
)

_register(
    "dedup_cluster_density",
    lambda s, d: dedup.cluster_density_stats(s, d),
    # per-cluster density diagnostics: exact triangle counts via the
    # degree-ordered orientation + transitivity (separates true dup
    # communities from borderline threshold chains).  Planted
    # triangle-vs-chain goldens in tests/test_cluster_density.py
    """
    WITH RECURSIVE t AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3
               THEN list_transform(range(1, len(toks) - 1),
                                   i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
               ELSE [] END) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ), pairs AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM t a, t b
      WHERE a.doc_id < b.doc_id
        AND FLOOR(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / CAST(len(a.sh) + len(b.sh)
                         - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  * 1e6 + 0.5) / 1e6 >= 0.4
    ), edges AS (
      SELECT u AS a, v AS b FROM pairs UNION SELECT v, u FROM pairs
    ), reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), comp AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
      FROM reach GROUP BY a
    ), deg AS (
      SELECT a AS node, COUNT(*)::BIGINT AS deg FROM edges GROUP BY a
    ), per_cluster AS (
      SELECT c.cluster_id, COUNT(*)::BIGINT AS n_nodes,
             (SUM(d.deg * (d.deg - 1)) / 2)::BIGINT AS n_wedges,
             (SUM(d.deg) / 2)::BIGINT AS n_edges
      FROM comp c JOIN deg d ON c.doc_id = d.node
      GROUP BY c.cluster_id
    ), tris AS (
      SELECT p1.u AS a
      FROM pairs p1 JOIN pairs p2 ON p1.u = p2.u AND p1.v < p2.v
      JOIN pairs p3 ON p3.u = p1.v AND p3.v = p2.v
    ), tri_per_cluster AS (
      SELECT c.cluster_id, COUNT(*)::BIGINT AS n_triangles
      FROM tris t JOIN comp c ON t.a = c.doc_id
      GROUP BY c.cluster_id
    )
    SELECT p.cluster_id, p.n_nodes, p.n_edges, p.n_wedges,
           COALESCE(tc.n_triangles, 0)::BIGINT AS n_triangles,
           CASE WHEN p.n_wedges > 0
                THEN FLOOR(3.0 * COALESCE(tc.n_triangles, 0)
                           / p.n_wedges::DOUBLE * 1e6 + 0.5) / 1e6
                ELSE NULL END AS transitivity
    FROM per_cluster p LEFT JOIN tri_per_cluster tc USING (cluster_id)
    ORDER BY p.cluster_id
    """,
)

# shared sentence CTE for the round-8 C4-style sentence-level dedup
# pair: split on runs of .!? then trim + collapse whitespace + drop
# empties — the exact DuckDB twin of ops/text.py:_sentence_array
# (RE2-safe: no lookbehind anywhere)
_SENTENCES_CTE = r"""
    s0 AS (
      SELECT doc_id,
             list_filter(
               list_transform(
                 regexp_split_to_array(text, '[.!?]+'),
                 x -> trim(regexp_replace(x, '\s+', ' ', 'g'))),
               x -> x <> '') AS arr
      FROM documents WHERE text IS NOT NULL
    ), s AS (
      SELECT doc_id, (i - 1)::BIGINT AS sent_idx, arr[i] AS sentence
      FROM s0, UNNEST(range(1, len(arr) + 1)) AS r(i)
    )
"""

_register(
    "text_dup_sentences",
    text.dup_sentence_stats,
    # per-document duplicate-sentence ratio (the C4 / Lee et al. 2022
    # sentence-level dedup signal); planted-duplicate goldens in
    # tests/test_sentence_dedup.py
    f"""
    WITH {_SENTENCES_CTE},
    occ AS (
      SELECT doc_id, sent_idx,
             COUNT(*) OVER (PARTITION BY lower(sentence)) AS occ
      FROM s
    )
    SELECT doc_id,
           COUNT(*)::BIGINT AS n_sentences,
           SUM(CASE WHEN occ >= 2 THEN 1 ELSE 0 END)::BIGINT
             AS n_dup_sentences,
           FLOOR(SUM(CASE WHEN occ >= 2 THEN 1 ELSE 0 END)
                 / COUNT(*)::DOUBLE * 1e6 + 0.5) / 1e6
             AS dup_sentence_ratio
    FROM occ GROUP BY doc_id
    """,
)

_register(
    "text_scrub_sentences",
    text.scrub_dup_sentences,
    # keep-first sentence-level scrub (the C4 ACTION: later occurrences
    # of any duplicated sentence are dropped, first survives); keep-one
    # + singleton-passthrough goldens in tests/test_sentence_dedup.py
    f"""
    WITH {_SENTENCES_CTE},
    ranked AS (
      SELECT doc_id, sent_idx, sentence,
             row_number() OVER (
               PARTITION BY lower(sentence)
               ORDER BY doc_id ASC, sent_idx ASC
             ) AS occ_rank
      FROM s
    )
    SELECT doc_id, sent_idx, sentence FROM ranked WHERE occ_rank = 1
    """,
)

_register(
    "events_markov_transitions",
    lambda s, d: timeseries.markov_transitions(s, d),
    # first-order Markov transition matrix over per-user event
    # sequences (empirical MLE chain). NULL user/ts/event_type rows
    # dropped up front; NULL event_id tie rows order through the
    # event_type tie-break (equal-key duplicates are interchangeable,
    # so the aggregate is order-independent under the nulls-fuzz ties).
    # Chain-golden + conservation invariants in
    # tests/test_markov_transitions.py
    """
    WITH ev AS (
      SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL
    ), pairs AS (
      SELECT event_type AS from_state,
             lead(event_type) OVER (
               PARTITION BY user_id
               ORDER BY ts_ms, event_id NULLS FIRST, event_type
             ) AS to_state
      FROM ev
    ), counts AS (
      SELECT from_state, to_state, count(*)::BIGINT AS n_transitions
      FROM pairs WHERE to_state IS NOT NULL
      GROUP BY from_state, to_state
    )
    SELECT from_state, to_state, n_transitions,
           FLOOR(n_transitions
                 / (SUM(n_transitions) OVER (PARTITION BY from_state))::DOUBLE
                 * 1e6 + 0.5) / 1e6 AS prob
    FROM counts
    ORDER BY from_state, to_state
    """,
)

_register(
    "join_bucketed_colocated",
    lambda s, d: relational.bucketed_revenue_join(s, d),
    # co-located big-big join via bucketed tables: both sides written
    # bucketBy(orderkey)+sorted, the SortMergeJoin consumes bucket
    # files with ZERO Exchange below the join — the pre-shuffle-once
    # layout a 100-TB fact/fact join amortizes into ingest (the third
    # strategy next to AQE skew-split and explicit salting). The plan
    # gate (no Exchange below the SMJ) is in
    # tests/test_scale_patterns_ops.py; the oracle checks the VALUES
    # via the plain join — bucketing must change the plan, never the
    # answer.
    """
    SELECT o.o_orderstatus,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*)::BIGINT AS n_items
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    ORDER BY o.o_orderstatus
    """,
)

