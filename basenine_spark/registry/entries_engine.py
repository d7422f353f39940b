"""Engine/BFL/relational/text/dedup/similarity/multimodal/time-series/pipeline entries -- split from the monolithic registry.py (round 12);
registration ORDER is load-bearing (the driver window is the first
50 iteration-order entries) and is preserved by the import sequence
in __init__.py."""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..bfl.compiler import compile_filter
from ..engine.db import BasenineDB
from ..ops import (
    dedup,
    multimodal,
    pipeline,
    privacy,
    relational,
    sampling,
    similarity,
    text,
    timeseries,
)
from ..sources.tables import load_table

from ._core import ORACLES, QueryFn, SPARK_QUERIES, _register  # noqa: F401


# ---------------------------------------------------------------------------
# BFL queries over the events table (SURVEY §2.2/§2.6/§2.8/§2.10)
# ---------------------------------------------------------------------------


def _bfl_events(bfl: str) -> QueryFn:
    """Run a BFL filter over events on the typed fast path (BFL →
    Column, P1-P15/F1-F10) and project the id column."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        events = load_table(spark, sf_dir, "events")
        comp = compile_filter(bfl, events)
        df = events
        if comp.predicate is not None:
            df = df.filter(comp.predicate)
        if comp.limit > 0:
            df = df.orderBy(F.col("event_id").asc()).limit(comp.limit)
        return df.select("event_id")

    return fn


def _bfl_events_db(bfl: str, left_off: int | str = 0) -> QueryFn:
    """Run a BFL query through the full BasenineDB /query mode (M1) —
    macro expansion, limit extraction, row-backend fallback included."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        events = load_table(spark, sf_dir, "events")
        db = BasenineDB.from_dataframe(spark, events, id_col="event_id")
        out = db.query(bfl, left_off=left_off)
        if "value" in out.columns:  # row backend: (id string, value string)
            return out.select(F.col("event_id").cast("bigint").alias("event_id"))
        return out.select("event_id")

    return fn


def _fetch_backward(left_off: int, query: str, limit: int) -> QueryFn:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        events = load_table(spark, sf_dir, "events")
        db = BasenineDB.from_dataframe(spark, events, id_col="event_id")
        out = db.fetch(left_off, -1, query, limit)
        if "value" in out.columns:
            return out.select(F.col("event_id").cast("bigint").alias("event_id"))
        return out.select("event_id")

    return fn


def _single_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/single (M2) as a point-lookup plan — id predicate prunes by
    parquet min/max stats, no scan."""
    events = load_table(spark, sf_dir, "events")
    return events.filter(F.col("event_id") == 1234).select(
        "event_id", "event_type", "value"
    )


_EVENTS_BFL: dict[str, tuple[str, str]] = {
    # name: (BFL query, DuckDB oracle WHERE clause over `events`)
    "bfl_eq_string": ('event_type == "click"', "event_type = 'click'"),
    "bfl_neq_string": ('event_type != "error"', "coalesce(event_type, 'null') <> 'error'"),
    "bfl_cmp_gt": ("value > 10", "coalesce(value, 0) > 10"),
    "bfl_cmp_le": ("value <= 2.5", "coalesce(value, 0) <= 2.5"),
    "bfl_and_or": (
        '(event_type == "click" and value > 10) or event_type == "error"',
        "(event_type = 'click' AND value > 10) OR event_type = 'error'",
    ),
    "bfl_not": ('!(event_type == "click")', "coalesce(event_type, 'null') <> 'click'"),
    "bfl_bare_path_truthy": (
        "value > 0 and event_type",
        "value > 0 AND event_type IS NOT NULL AND event_type <> ''",
    ),
    "bfl_regex_match": ('event_type == r"ck$"', "regexp_matches(event_type, 'ck$')"),
    "bfl_startswith": ('event_type.startsWith("cl")', "starts_with(event_type, 'cl')"),
    "bfl_endswith": ('event_type.endsWith("or")', "event_type LIKE '%or'"),
    "bfl_contains": ('event_type.contains("ie")', "position('ie' IN event_type) > 0"),
    "bfl_json_num_cmp": (
        "props.json().k > 50",
        "CAST(json_extract_string(props, '$.k') AS DOUBLE) > 50",
    ),
    "bfl_json_key_eq": (
        'props.json()["k"] == 29',
        "json_extract_string(props, '$.k') = '29'",
    ),
    "bfl_time_window": (
        'ts_ms >= datetime("1/3/2024, 12:00:00.000 AM") and ts_ms < datetime("1/5/2024, 12:00:00.000 AM")',
        "epoch_ms(ts) >= epoch_ms(TIMESTAMP '2024-01-03 00:00:00') "
        "AND epoch_ms(ts) < epoch_ms(TIMESTAMP '2024-01-05 00:00:00')",
    ),
    "bfl_collapse_missing": (
        'event_type == "click" and nonexistent.field == 1',
        "1 = 0",
    ),
}


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

for _name, (_bfl, _where) in _EVENTS_BFL.items():
    _register(_name, _bfl_events(_bfl), f"SELECT event_id FROM events WHERE {_where}")

def _bfl_embeddings(bfl: str) -> QueryFn:
    """BFL array semantics (P9/P11) over the embeddings table."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        comp = compile_filter(bfl, emb)
        return emb.filter(comp.predicate).select("vec_id")

    return fn


_register(
    "bfl_wildcard_existential",
    _bfl_embeddings("embedding.* > 0.3"),
    # array <op> scalar is EXISTENTIAL (eval.go:189-196)
    "SELECT vec_id FROM embeddings "
    "WHERE len(list_filter(embedding, x -> x > 0.3)) > 0",
)
_register(
    "bfl_index_select",
    _bfl_embeddings("embedding[5] > 0.1"),
    # ojg index is 0-based, SQL list index 1-based
    "SELECT vec_id FROM embeddings WHERE embedding[6] > 0.1",
)
_register(
    "query_limit_extract",
    _bfl_events_db("value > 10 and limit(50)"),
    "SELECT event_id FROM events WHERE event_id IS NOT NULL AND value > 10 ORDER BY event_id LIMIT 50",
)
_register(
    "query_left_off",
    _bfl_events_db('event_type == "view"', left_off=8000),
    "SELECT event_id FROM events WHERE event_id > 8000 AND event_type = 'view'",
)
_register(
    "fetch_backward",
    _fetch_backward(5000, "value > 5", 100),
    "SELECT event_id FROM events WHERE event_id < 5000 AND value > 5 "
    "ORDER BY event_id DESC LIMIT 100",
)
_register(
    "single_lookup",
    _single_lookup,
    "SELECT event_id, event_type, value FROM events WHERE event_id = 1234",
)
_register(
    "redact_row_backend",
    # json()-nested redact: per-row document surgery (decode, replace,
    # re-encode) — the genuinely dynamic form that stays on the exact
    # row backend (eval.go:469-495)
    _bfl_events_db('redact("props.json().k") and event_type == "error"'),
    "SELECT event_id FROM events WHERE event_id IS NOT NULL AND event_type = 'error'",
)


def _redact_typed_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-static redact compiled to withField/lit projections —
    whole-stage codegen, no Python stage (plan-asserted in
    tests/test_plan_properties.py)."""
    events = load_table(spark, sf_dir, "events")
    db = BasenineDB.from_dataframe(spark, events, id_col="event_id")
    out = db.query('redact("props") and event_type == "error"')
    # fast path keeps the typed shape (the row backend collapses to
    # exactly [id, value])
    assert "props" in out.columns
    return out.select("event_id", "props")


_register(
    "redact_typed_fast",
    _redact_typed_fast,
    "SELECT event_id, '[REDACTED]' AS props FROM events "
    "WHERE event_id IS NOT NULL AND event_type = 'error'",
)
_register(
    "recursive_descent",
    _bfl_events_db('props.json()..k == 29'),
    "SELECT event_id FROM events WHERE event_id IS NOT NULL "
    "AND json_extract_string(props, '$.k') = '29'",
)

# -- relational extensions (SURVEY §2.3-2.7: absent in reference) -----------

def _macro_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1/M5 through the query path: macro expansion is string-literal
    aware and auto-parenthesized (macro.go:24-49)."""
    events = load_table(spark, sf_dir, "events")
    db = BasenineDB.from_dataframe(spark, events, id_col="event_id")
    db.add_macro("bigclick", 'event_type == "click" and value > 10')
    return db.query("bigclick").select("event_id")


_register(
    "macro_expansion_query",
    _macro_query,
    "SELECT event_id FROM events WHERE event_id IS NOT NULL AND event_type = 'click' AND value > 10",
)


def _fetch_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    db = BasenineDB.from_dataframe(spark, events, id_col="event_id")
    return db.fetch(9000, 1, 'event_type == "view"', 50).select("event_id")


_register(
    "fetch_forward",
    _fetch_forward,
    "SELECT event_id FROM events WHERE event_id >= 9000 AND event_type = 'view' "
    "ORDER BY event_id LIMIT 50",
)


def _insertion_filter_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/M6 end-to-end: ingest-time BFL filter drops non-matching docs
    before they consume ids (native.go:277-292)."""
    import json as _json
    import shutil
    import tempfile

    from ..engine.db import BasenineDB

    events = load_table(spark, sf_dir, "events")
    rows = events.filter(F.col("event_id") < 500).orderBy("event_id").collect()
    lines = [
        _json.dumps({"event_id": r["event_id"], "event_type": r["event_type"]})
        for r in rows
    ]
    tmp = tempfile.mkdtemp(prefix="bn_insfilter_")
    try:
        db = BasenineDB(spark, path=f"{tmp}/store")
        db.set_insertion_filter('event_type != "error"')
        db.insert_json(lines)
        data = [(r["event_id"],) for r in db.query("").select("event_id").collect()]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(data, "event_id long")


_register(
    "insertion_filter_roundtrip",
    _insertion_filter_roundtrip,
    "SELECT event_id FROM events WHERE event_id < 500 "
    "AND coalesce(event_type, 'null') <> 'error'",
)


def _validate_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 golden error strings (participle-parity positions,
    server_test.go:267-274) surfaced as a comparable table."""
    from ..engine.db import BasenineDB

    db = BasenineDB(spark)
    cases = ["", "brand.name == \"Chevrolet\"", "=", "timestamp > bar and ", "limit(10"]
    out = []
    for q in cases:
        ok, msg = db.validate(q)
        out.append((q, ok, msg if not ok else "OK"))
    return spark.createDataFrame(out, "query string, ok boolean, msg string")


_register(
    "validate_golden_errors",
    _validate_golden,
    # M4 validate-mode goldens (server_test.go:267-274). Promoted to a
    # full oracle in round 7 (VERDICT r6 #3): the expected strings are
    # exact reference-pinned literals, so a VALUES table is a complete
    # oracle — participle parity of positions and quoting included.
    """
    SELECT * FROM (VALUES
      ('', true, 'OK'),
      ('brand.name == "Chevrolet"', true, 'OK'),
      ('=', false, '1:1: unexpected token "="'),
      ('timestamp > bar and ', false, '1:21: unexpected token "<EOF>"'),
      ('limit(10', false, '1:9: unexpected token "<EOF>" (expected ")")')
    ) AS t(query, ok, msg)
    """,
)

_register(
    "agg_pricing_summary",
    relational.pricing_summary,
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 2) AS avg_qty,
           count(*) AS count_order
    FROM lineitem WHERE l_quantity < 48
    GROUP BY l_returnflag, l_linestatus
    """,
)
_register(
    "agg_revenue_q6",
    relational.revenue_q6,
    "SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue FROM lineitem "
    "WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24",
)
_register(
    "join_mktsegment",
    relational.mktsegment_orders,
    """
    SELECT c_mktsegment, count(*) AS order_cnt,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
_register(
    "join_top_revenue",
    relational.top_revenue_orders,
    """
    SELECT o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderkey
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
)
_register(
    "window_top_orders",
    relational.top_orders_per_customer,
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
_register(
    "join_supplier_rollup",
    relational.supplier_nation_rollup,
    """
    SELECT r_name, n_name, count(*) AS supplier_cnt,
           round(sum(s_acctbal), 2) AS total_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
_register(
    "anti_join_customers",
    relational.customers_without_big_order,
    """
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE c_custkey NOT IN (
      SELECT o_custkey FROM orders WHERE o_totalprice > 300000
    )
    """,
)
_register(
    "semi_join_customers",
    relational.customers_with_urgent_order,
    """
    SELECT c_custkey FROM customer WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    )
    """,
)
_register(
    "union_users",
    relational.event_type_union,
    "SELECT user_id FROM events WHERE event_type = 'click' "
    "UNION SELECT user_id FROM events WHERE event_type = 'purchase'",
)
_register(
    "distinct_event_types",
    relational.distinct_event_types,
    "SELECT DISTINCT event_type FROM events",
)
def _log_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end durable path (S1-S5): the first 500 events inserted as
    schema-free JSON docs into a DocumentLog (distributed id assignment,
    Parquet append), then BFL-queried back through the typed view."""
    import json as _json
    import shutil
    import tempfile

    from ..engine.db import BasenineDB

    events = load_table(spark, sf_dir, "events")
    rows = events.filter(F.col("event_id") < 500).orderBy("event_id").collect()
    lines = [
        _json.dumps(
            {
                "event_id": r["event_id"],
                "event_type": r["event_type"],
                "value": r["value"],
            }
        )
        for r in rows
    ]
    tmp = tempfile.mkdtemp(prefix="bn_roundtrip_")
    try:
        db = BasenineDB(spark, path=f"{tmp}/store")
        db.insert_json(lines)
        out = db.query('event_type == "click"')
        # materialize before the tempdir disappears
        data = [(r["event_id"],) for r in out.select("event_id").collect()]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(data, "event_id long")


_register(
    "log_roundtrip_query",
    _log_roundtrip,
    "SELECT event_id FROM events WHERE event_id < 500 AND event_type = 'click'",
)


def _retention_rotation_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/S7/M7 under the driver gate — the stateful surface's FIRST
    driver row (VERDICT r13 #1): durable log + /limit retention,
    inserted past two rotations, surviving records + truncatedTimestamp
    queried back.

    Reference semantics: write partition rotates when it exceeds
    limit/2 (``native.go:1049-1063``, effective bound = value/2 per
    ``native.go:1207-1211``), at most two live partitions with the
    oldest deleted (``native.go:1088-1105``), and truncatedTimestamp =
    max event-time of dropped data + 1 (``native.go:986-1044``).

    Determinism: rotation depends on parquet byte sizes, which no SQL
    oracle can recompute — so the construction pins it at the BATCH
    level instead. Each of the 4 inserted batches carries ~38 KB of
    unique md5-hex payload (high-entropy, ~115 KB as parquet across
    the batch's files) against half = 12 KB, so EVERY append rotates
    the write partition with ~10× margin and partition boundaries ==
    batch boundaries by construction: survivors are exactly batches
    2-3, dropped exactly 0-1, truncatedTimestamp = 1000 × (last
    event_id of batch 1) + 1 (doc timestamp = 1000 × event_id). The
    in-function asserts fail LOUDLY if the size assumption ever breaks
    instead of surfacing as a bare hash mismatch.
    """
    import hashlib
    import json as _json
    import shutil
    import tempfile

    from ..engine.db import BasenineDB

    events = load_table(spark, sf_dir, "events")
    rows = (
        events.filter(F.col("event_id").isNotNull())
        .orderBy("event_id")
        .limit(600)
        .collect()
    )
    B = 150

    def _pad(eid: int) -> str:
        return "".join(
            hashlib.md5(f"bn-rot-{eid}-{j}".encode()).hexdigest()
            for j in range(8)
        )

    tmp = tempfile.mkdtemp(prefix="bn_retention_")
    try:
        db = BasenineDB(spark, path=f"{tmp}/store")
        db.set_retention_bytes(24_000)  # half = 12 KB << ~115 KB/batch
        for i in range(4):
            batch = rows[i * B : (i + 1) * B]
            db.insert_json(
                [
                    _json.dumps(
                        {
                            "event_id": int(r["event_id"]),
                            "timestamp": int(r["event_id"]) * 1000,
                            "pad": _pad(int(r["event_id"])),
                        }
                    )
                    for r in batch
                ]
            )
            parts = db._log._live_parts()
            assert len(parts) == min(i + 1, 2) and db._log._part == i + 1, (
                "retention construction invariant broke (batch parquet "
                f"size vs limit/2): batch={i} parts={parts}"
            )
        trunc = db.metadata().truncated_timestamp
        data = [
            (r["event_id"], trunc)
            for r in db.query("").select("event_id").collect()
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(data, "event_id long, truncated_ts long")


_register(
    "retention_rotation_roundtrip",
    _retention_rotation_roundtrip,
    # batches are row_number()-sliced in id order: survivors = rows
    # 300-599, truncatedTimestamp = 1000 * (last id of rows 150-299) + 1
    """
    WITH sel AS (
      SELECT event_id, row_number() OVER (ORDER BY event_id) - 1 AS rn
      FROM events WHERE event_id IS NOT NULL
      QUALIFY rn < 600
    )
    SELECT event_id,
           (SELECT max(event_id) * 1000 + 1 FROM sel
            WHERE rn BETWEEN 150 AND 299) AS truncated_ts
    FROM sel WHERE rn >= 300
    """,
)


def _persistence_restart_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 under the driver gate — restart survival end-to-end
    (``native.go:155-258`` gob dump/restore analog): write through one
    BasenineDB, then open a FRESH instance on the same path — counters
    and offsets restored from parquet FOOTER statistics only, macros /
    typed schema / filters from the durable ``_state.json`` — resume
    ingest (the id counter must CONTINUE, not restart), and macro-query
    the union through the restored typed view.

    The post-restart batch also regression-pins the round-14
    ``widen_to_merged`` shred fix: its integer ``value`` re-narrows a
    previously-double leaf and must still be written readable under
    the union read schema.
    """
    import json as _json
    import shutil
    import tempfile

    from ..engine.db import BasenineDB, index_to_id

    events = load_table(spark, sf_dir, "events")
    rows = (
        events.filter(F.col("event_id") < 400).orderBy("event_id").collect()
    )
    lines = [
        _json.dumps({"event_id": int(r["event_id"]), "value": r["value"]})
        for r in rows
    ]
    tmp = tempfile.mkdtemp(prefix="bn_persist_")
    try:
        db1 = BasenineDB(spark, path=f"{tmp}/store")
        db1.add_macro("hot", "value > 50")  # persisted (native.go:185)
        db1.insert_json(lines)
        del db1

        db2 = BasenineDB(spark, path=f"{tmp}/store")  # fresh: restore
        new_ids = db2.insert_json(
            [_json.dumps({"event_id": -1, "value": 999})]
        )
        assert new_ids == [index_to_id(len(lines))], (
            "id counter restarted instead of resuming: "
            f"{new_ids} vs {index_to_id(len(lines))}"
        )
        out = db2.query("hot")  # macro restored from _state.json
        data = [(r["event_id"],) for r in out.select("event_id").collect()]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(data, "event_id long")


_register(
    "persistence_restart_roundtrip",
    _persistence_restart_roundtrip,
    "SELECT event_id FROM events WHERE event_id < 400 "
    "AND coalesce(value, 0) > 50 UNION ALL SELECT -1",
)


def _flush_reset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/M8 under the driver gate — the LAST stateful-surface family
    without a driver row (VERDICT r13 #1 completes with this):

    * ``/flush`` drops all records and restarts the id counter but
      KEEPS macros / insertion filter / retention limit
      (``native.go:888-904``);
    * ``/reset`` = flush + clears macros, filter and limit
      (``native.go:908-928``).

    Construction — three distinguishable phases over disjoint
    event_id ranges so every semantic lands in the value hash:

    1. insertion filter ``value > 50`` + macro ``big = value > 80``
       set, batch A (ids 0-199) inserted, then ``flush()``;
    2. batch B (ids 200-399) inserted THROUGH the surviving filter —
       ``query("")`` returns only B's ``value > 50`` subset (pins: A
       gone, filter survived flush), ``query("big")`` returns B's
       ``value > 80`` subset (pins: macro survived flush), and the
       first post-flush id is asserted == ``index_to_id(0)`` (counter
       restarted, not resumed — the persistence row pins the opposite
       behavior for restart);
    3. ``reset()``, batch C (ids 400-499) inserted — ``query("")``
       returns ALL of C (pins: filter cleared; a leaked filter would
       drop C's ``value <= 50`` rows and hash-mismatch), and
       ``query("big")`` contributes zero rows (macro cleared: ``big``
       now compiles as bare-path truthiness on a missing field and
       collapses, P15) — a macro leak would surface as extra
       ``reset_macro_leak`` rows.
    """
    import json as _json
    import shutil
    import tempfile

    from ..engine.db import BasenineDB, index_to_id

    events = load_table(spark, sf_dir, "events")
    rows = (
        events.filter(F.col("event_id") < 500).orderBy("event_id").collect()
    )

    def _lines(lo: int, hi: int) -> list[str]:
        return [
            _json.dumps(
                {"event_id": int(r["event_id"]), "value": r["value"]}
            )
            for r in rows
            if lo <= int(r["event_id"]) < hi
        ]

    tmp = tempfile.mkdtemp(prefix="bn_flushreset_")
    try:
        db = BasenineDB(spark, path=f"{tmp}/store")
        db.set_insertion_filter("value > 50")
        db.add_macro("big", "value > 80")
        db.insert_json(_lines(0, 200))
        db.flush()

        ids_b = db.insert_json(_lines(200, 400))
        assert ids_b and ids_b[0] == index_to_id(0), (
            "flush must restart the id counter at 0 (native.go:888-904): "
            f"first post-flush id = {ids_b[:1]}"
        )
        data = [
            ("after_flush", r["event_id"])
            for r in db.query("").select("event_id").collect()
        ] + [
            ("flush_macro", r["event_id"])
            for r in db.query("big").select("event_id").collect()
        ]

        db.reset()
        assert db.macros == {} and db.insertion_filter == "", (
            "reset must clear macros and the insertion filter "
            "(native.go:908-928)"
        )
        db.insert_json(_lines(400, 500))
        data += [
            ("after_reset", r["event_id"])
            for r in db.query("").select("event_id").collect()
        ] + [
            ("reset_macro_leak", r["event_id"])
            for r in db.query("big").select("event_id").collect()
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(data, "phase string, event_id long")


def _log_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction maintenance under the driver gate (round 14): the
    one durable-log operation with no driver row left. Micro-batch
    ingest (10 batches of 50 docs — the tail/source commit pattern)
    leaves ~10 file sets in the write partition; ``compact()`` must
    coalesce them (asserted: ≥1 partition rewritten, file count
    strictly drops) while changing NOTHING observable: the same BFL
    query returns the same rows through the swapped directory, and a
    post-compaction insert CONTINUES the id sequence (footer
    statistics and counters preserved across the atomic swap —
    asserted == ``index_to_id(500)``). Compaction is a parquet-log
    need the reference's single growing file never has
    (``native.go:951-964``); the equivalence contract is what makes
    it safe to run against a live 100-TB log.
    """
    import json as _json
    import os
    import shutil
    import tempfile

    from ..engine.db import BasenineDB, index_to_id

    events = load_table(spark, sf_dir, "events")
    rows = (
        events.filter(F.col("event_id") < 500).orderBy("event_id").collect()
    )
    tmp = tempfile.mkdtemp(prefix="bn_compact_")
    try:
        db = BasenineDB(spark, path=f"{tmp}/store")
        for i in range(10):
            db.insert_json(
                [
                    _json.dumps(
                        {
                            "event_id": int(r["event_id"]),
                            "event_type": r["event_type"],
                        }
                    )
                    for r in rows[i * 50 : (i + 1) * 50]
                ]
            )
        pdir = f"{tmp}/store/part=0"

        def _n_files() -> int:
            return sum(
                1 for f in os.listdir(pdir) if f.endswith(".parquet")
            )

        before = _n_files()
        rewritten = db.compact()
        after = _n_files()
        assert rewritten >= 1 and after < before, (
            "compaction must rewrite the micro-batched partition: "
            f"rewritten={rewritten} files {before}->{after}"
        )
        ids = db.insert_json(
            [_json.dumps({"event_id": -1, "event_type": "click"})]
        )
        # len(rows), not a literal 500: the nulls-fuzz twin corpus has
        # fewer event_id < 500 rows (NULLed ids), and the id-continuity
        # contract is about the count actually INSERTED
        assert ids == [index_to_id(len(rows))], (
            "id sequence must CONTINUE across the compaction swap: "
            f"{ids} vs {index_to_id(len(rows))}"
        )
        data = [
            (r["event_id"],)
            for r in db.query('event_type == "click"')
            .select("event_id")
            .collect()
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(data, "event_id long")


_register(
    "log_compact_roundtrip",
    _log_compact_roundtrip,
    "SELECT event_id FROM events WHERE event_id < 500 "
    "AND event_type = 'click' UNION ALL SELECT -1",
)


_register(
    "flush_reset_roundtrip",
    _flush_reset_roundtrip,
    # phase ranges are disjoint by construction; 'reset_macro_leak'
    # contributes zero rows on both engines unless /reset leaks the
    # macro
    """
    SELECT 'after_flush' AS phase, event_id FROM events
      WHERE event_id BETWEEN 200 AND 399 AND coalesce(value, 0) > 50
    UNION ALL
    SELECT 'flush_macro' AS phase, event_id FROM events
      WHERE event_id BETWEEN 200 AND 399 AND coalesce(value, 0) > 80
    UNION ALL
    SELECT 'after_reset' AS phase, event_id FROM events
      WHERE event_id BETWEEN 400 AND 499
    """,
)

_register(
    "agg_count_distinct",
    lambda s, d: load_table(s, d, "events")
    .groupBy("event_type")
    .agg(F.count_distinct("user_id").alias("n_users"), F.count(F.lit(1)).alias("n_events")),
    "SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events "
    "FROM events GROUP BY event_type",
)

_register(
    "agg_daily_events",
    relational.daily_event_rollup,
    """
    SELECT epoch_ms(ts) // 86400000 AS day, event_type,
           count(*) AS cnt, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)

def _bfl_json_base64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 base64 probe end-to-end: a base64-encoded JSON column is
    transparently decoded before extraction (eval.go:362-365)."""
    events = load_table(spark, sf_dir, "events")
    df = events.withColumn("b64", F.base64(F.col("props").cast("binary")))
    comp = compile_filter('b64.json()["k"] == 29', df)
    return df.filter(comp.predicate).select("event_id")


_register(
    "bfl_json_base64_probe",
    _bfl_json_base64,
    # the probe must land on the same records as plain extraction
    "SELECT event_id FROM events WHERE json_extract_string(props, '$.k') = '29'",
)


def _bfl_xml_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 xml() extraction via xpath on a constructed XML column."""
    events = load_table(spark, sf_dir, "events")
    df = events.withColumn(
        "x", F.concat(F.lit("<r><t>"), F.col("event_type"), F.lit("</t></r>"))
    )
    comp = compile_filter('x.xml().r.t == "click"', df)
    return df.filter(comp.predicate).select("event_id")


_register(
    "bfl_xml_path",
    _bfl_xml_path,
    "SELECT event_id FROM events WHERE event_type = 'click'",
)

_PINNED_NOW_MS = 1_704_931_200_000  # 2024-01-11 00:00:00 UTC


def _bfl_time_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/F7 time helpers folded at compile time with a pinned now():
    months(-1) = now − 30 days exactly (fixed approximations,
    precompute.go:167-176 — not calendar months)."""
    events = load_table(spark, sf_dir, "events")
    comp = compile_filter(
        "ts_ms >= months(-1) and ts_ms < days(-3)", events, now_ms=_PINNED_NOW_MS
    )
    return events.filter(comp.predicate).select("event_id")


_register(
    "bfl_time_arith_fold",
    _bfl_time_arith,
    f"""
    SELECT event_id FROM events
    WHERE epoch_ms(ts) >= {_PINNED_NOW_MS - 30 * 86_400_000}
      AND epoch_ms(ts) <  {_PINNED_NOW_MS - 3 * 86_400_000}
    """,
)

_register(
    "agg_hourly_window",
    relational.hourly_window_rollup,
    """
    SELECT epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS window_start_ms,
           event_type, count(*) AS cnt
    FROM events GROUP BY 1, 2
    """,
)
_register(
    "sessionize_gap",
    relational.sessionize,
    # NULL policy mirrors ops/relational.py:sessionize: NULL
    # user_id/ts rows dropped; event_id tie-break NULLS FIRST matches
    # Spark's asc default (DuckDB defaults NULLS LAST — VERDICT r6)
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
    )
    SELECT user_id, session_no,
           MIN(ts_ms) AS session_start_ms,
           MAX(ts_ms) AS session_end_ms,
           COUNT(*) AS n_events
    FROM sid GROUP BY 1, 2
    """,
)
_register(
    "agg_value_median",
    relational.value_median_by_type,
    "SELECT event_type, round(quantile_cont(value, 0.5), 4) AS median_value, "
    "count(*) AS cnt FROM events GROUP BY 1",
)
_register(
    "agg_rollup_orders",
    relational.order_priority_rollup,
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           count(*) AS cnt, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)

# -- text analysis ----------------------------------------------------------

_register(
    "text_token_stats",
    text.token_stats,
    """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_unique
    FROM documents
    """,
)
_register(
    "text_quality",
    text.quality_score,
    """
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(toks, x -> x IN ('a', 'the'))) AS BIGINT) AS stop_cnt,
           FLOOR(CAST(len(list_filter(toks, x -> x IN ('a', 'the'))) AS DOUBLE)
                 / CAST(len(toks) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS stop_ratio,
           n_chars
    FROM (SELECT doc_id, string_split(text, ' ') AS toks, n_chars FROM documents)
    """,
)
_register(
    "text_fingerprint",
    text.fingerprint,
    r"SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp FROM documents",
)
_register(
    "text_winnow_fingerprints",
    text.winnow_fingerprints,
    # k=3 word-grams, winnow window w=4: fingerprint = distinct minima
    # of each window of 4 consecutive gram md5s (lexicographic min)
    """
    WITH g AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) >= 6 THEN
               list_transform(range(1, len(toks) - 4),
                 win -> list_min(list_transform(range(0, 4),
                   o -> md5(concat_ws(' ', toks[win + o], toks[win + o + 1], toks[win + o + 2])))))
             ELSE [] END AS fps
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    )
    SELECT doc_id, unnest(list_distinct(fps)) AS fp FROM g
    """,
)
_register(
    "text_lang_profile",
    text.lang_profile,
    "SELECT lang, count(*) AS doc_cnt, round(avg(n_chars), 2) AS avg_chars "
    "FROM documents GROUP BY lang",
)
_register(
    "text_langid",
    text.langid_heuristic,
    """
    SELECT doc_id,
           CASE WHEN en_cnt >= data_cnt AND en_cnt > 0 THEN 'en'
                WHEN data_cnt > 0 THEN 'data'
                ELSE 'unk' END AS pred_lang
    FROM (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a', 'of'))) AS en_cnt,
             len(list_filter(string_split(text, ' '), x -> x IN ('table', 'row', 'column'))) AS data_cnt
      FROM documents
    )
    """,
)
_register(
    "text_regex_tokens",
    text.regex_token_count,
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpeish,
           CAST(len(list_distinct(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS n_bpeish_unique
    FROM documents
    """,
)
_register(
    "text_tokens_by_source",
    text.token_count_by_source,
    """
    SELECT source,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           count(*) AS doc_cnt
    FROM documents GROUP BY source
    """,
)
_register(
    "text_repetition",
    text.repetition_stats,
    """
    WITH toks AS (SELECT doc_id, str_split(text, ' ') AS l FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(l)),
                                   i -> l[i] || ' ' || l[i + 1])) AS bg
      FROM toks
    ),
    c AS (SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY 1, 2)
    SELECT doc_id,
           CAST(max(cnt) AS BIGINT) AS top_cnt,
           CAST(sum(cnt) AS BIGINT) AS n_bigrams,
           round(CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6) AS top_ratio,
           round(1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6) AS dup_ratio
    FROM c GROUP BY doc_id
    """,
)


def _pii_oracle() -> str:
    """Build the DuckDB twin of ``text.pii_scrub`` from the same
    pattern table so the two can never drift."""
    sql = "SELECT event_id, props AS t FROM events"
    counts = []
    for label, pat, repl in text.PII_PATTERNS:
        counts.append(f"CAST(n_{label} AS BIGINT) AS n_{label}")
        sql = (
            f"SELECT * EXCLUDE (t),"
            f" len(regexp_extract_all(t, '{pat}')) AS n_{label},"
            f" regexp_replace(t, '{pat}', '{repl}', 'g') AS t"
            f" FROM ({sql})"
        )
    return (
        f"SELECT event_id, {', '.join(counts)}, t AS scrubbed FROM ({sql})"
    )


_register("pii_scrub_events", text.pii_scrub_events, _pii_oracle())
_register(
    "text_contamination",
    text.contamination,
    """
    WITH toks AS (SELECT doc_id, source, str_split(text, ' ') AS l FROM documents),
    tri AS (
      SELECT doc_id, source,
             unnest(list_distinct(CASE WHEN len(l) >= 3 THEN
               list_transform(range(1, len(l) - 1),
                              i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2])
               ELSE [] END)) AS g
      FROM toks
    ),
    bench AS (SELECT DISTINCT g FROM tri WHERE source = 'src0'),
    rest AS (SELECT doc_id, g FROM tri WHERE source <> 'src0')
    SELECT r.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(b.g) AS BIGINT) AS n_overlap,
           round(CAST(count(b.g) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS contamination
    FROM rest r LEFT JOIN bench b ON r.g = b.g
    GROUP BY r.doc_id
    """,
)

# -- dedup ------------------------------------------------------------------

_register(
    "dedup_exact",
    dedup.exact_dedup,
    "SELECT md5(text) AS content_hash, MIN(doc_id) AS doc_id, COUNT(*) AS dup_cnt "
    "FROM documents WHERE text IS NOT NULL GROUP BY md5(text)",
)


def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(spark, sf_dir, n=3, threshold=0.4)


# Shared by dedup_ngram_jaccard (PPJoin, exact by construction) and
# dedup_minhash_lsh (banding candidates + exact-Jaccard verify, exact
# over candidates — recall total on this corpus, verified plain AND
# docs-fuzz, so the two paths emit the IDENTICAL pair list; the
# banding recall floor for corpora where recall < 1 stays pinned in
# pytest). Jaccard over the minhash path's xxhash64'd shingles equals
# Jaccard over string shingles absent collisions — none in this corpus.
_JACCARD_PAIRS_ORACLE = """
    WITH t AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3
               THEN list_transform(range(1, len(toks) - 1),
                                   i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
               ELSE [] END) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter,
             CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS uni
      FROM t a, t b WHERE a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, FLOOR(inter / uni * 1e6 + 0.5) / 1e6 AS jaccard
    FROM pairs WHERE FLOOR(inter / uni * 1e6 + 0.5) / 1e6 >= 0.4
    """

_register("dedup_ngram_jaccard", _jaccard_pairs, _JACCARD_PAIRS_ORACLE)
_register(
    "dedup_minhash_lsh",
    # promoted round 10 (same argument as dedup_clusters_lsh): banding
    # candidates are exact-Jaccard verified and recall is total on this
    # corpus, so the pair list hashes the SAME oracle as the PPJoin path
    lambda s, d: dedup.minhash_lsh_pairs(s, d, n=3, threshold=0.4),
    _JACCARD_PAIRS_ORACLE,
)
_register("dedup_simhash", dedup.simhash64, None)
_register("dedup_simhash_pairs", lambda s, d: dedup.simhash_near_pairs(s, d, max_hamming=6), None)

# direct cross-engine SimHash twin (VERDICT r11 #7): the xxhash64
# headline rows above can never carry a value oracle (DuckDB lacks
# xxhash64); this variant derives the 60-bit token hash from md5 —
# identical in both engines — so the WHOLE simhash dataflow
# (tokenize → sign-vote sums → bit reassembly → 4×15 banding →
# hamming verify) is value-hash-checked end-to-end, not just
# contract-checked. The xxhash64 primitive itself stays pinned by
# dedup_simhash_verified's HOF recomputation + pigeonhole recall.
_SIMHASH_MD5_SUMS = ", ".join(
    f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
    for j in range(60)
)
_SIMHASH_MD5_BITS = " | ".join(
    f"(CASE WHEN b{j} > 0 THEN (CAST(1 AS BIGINT) << {j})"
    f" ELSE CAST(0 AS BIGINT) END)"
    for j in range(60)
)
_register(
    "dedup_simhash_md5_pairs",
    lambda s, d: dedup.simhash_md5_near_pairs(s, d, max_hamming=3),
    f"""
    WITH tok AS (
      SELECT doc_id, CAST(('0x' || substr(md5(t),1,15)) AS BIGINT) AS h
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
            FROM documents WHERE text IS NOT NULL)
    ),
    sums AS (SELECT doc_id, {_SIMHASH_MD5_SUMS} FROM tok GROUP BY doc_id),
    sh AS (SELECT doc_id, ({_SIMHASH_MD5_BITS}) AS simhash FROM sums),
    banded AS (
      SELECT doc_id, simhash, band, (simhash >> (band*15)) & 32767 AS bh
      FROM sh, (SELECT unnest([0,1,2,3]) AS band)
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
    """,
)

# -- similarity search ------------------------------------------------------

_register(
    "ann_topk",
    similarity.ann_topk,
    """
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings WHERE vec_id < 10 AND embedding IS NOT NULL AND len(embedding) > 0
    ), c AS (
      SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings WHERE vec_id >= 10 AND embedding IS NOT NULL AND len(embedding) > 0
    ), s AS (
      SELECT q.query_id, c.neighbor_id,
             round(list_dot_product(q.e, c.e)
                   / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))),
                   4) AS sim
      FROM q, c
    )
    SELECT query_id, neighbor_id, rank, sim FROM (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM s WHERE sim IS NOT NULL
    ) WHERE rank <= 5
    """,
)
_register(
    "knn_graph_exact",
    similarity.knn_graph_exact,
    # round-10 late: the brute-force exact kNN graph under the driver's
    # full oracle — the ground truth the SRP-LSH knn_graph's recall is
    # pinned against, and the driver-verified home of the shared
    # ranking/mutual-edge machinery. Quadratic by design (baseline +
    # small-N refinement plan); knn_graph is the corpus-scale path.
    """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
    ), s AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             round(list_dot_product(a.emb, b.emb)
                   / (sqrt(list_dot_product(a.emb, a.emb))
                      * sqrt(list_dot_product(b.emb, b.emb))), 4) AS sim
      FROM e a JOIN e b ON a.vec_id <> b.vec_id
    ), r AS (
      SELECT src, dst, sim,
             CAST(row_number() OVER (PARTITION BY src
                                     ORDER BY sim DESC, dst ASC)
                  AS BIGINT) AS rank
      FROM s WHERE sim IS NOT NULL
    ), topk AS (SELECT * FROM r WHERE rank <= 5)
    SELECT t.src, t.dst, t.sim, t.rank,
           (m.src IS NOT NULL) AS mutual
    FROM topk t
    LEFT JOIN topk m ON m.src = t.dst AND m.dst = t.src
    ORDER BY t.src, t.rank
    """,
)
_register("ann_topk_lsh", similarity.ann_topk_lsh, None)
_register("ann_topk_ivf", similarity.ann_topk_ivf, None)

_register(
    "search_hybrid_rrf",
    lambda s, d: similarity.hybrid_rrf_search(s, d),
    # query-by-example hybrid retrieval (round 7): Okapi BM25 over each
    # query doc's 8 lexicographically-smallest distinct tokens + cosine
    # over its embedding, depth-20 rank lists fused with Reciprocal
    # Rank Fusion (1/(60+rank)).  Deterministic end-to-end: scores
    # rounded before ranking, ties by doc_id, rrf is a sum of exact
    # reciprocals — so the full pipeline is exactly checkable.
    """
    WITH docs AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
    lens AS (SELECT doc_id, len(string_split(text,' ')) AS dl FROM docs),
    stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM lens),
    qterms AS (
      SELECT query_id, unnest(qt) AS term FROM (
        SELECT doc_id AS query_id,
               list_sort(list_distinct(string_split(text,' ')))[1:8] AS qt
        FROM docs WHERE doc_id < 10)
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM (
        SELECT doc_id, unnest(string_split(text,' ')) AS term FROM docs)
      WHERE term IN (SELECT DISTINCT term FROM qterms) GROUP BY doc_id, term
    ),
    idf AS (SELECT term, ln(1 + ((SELECT n FROM stats) - df + 0.5)/(df + 0.5)) AS idf
            FROM (SELECT term, count(*) AS df FROM tf GROUP BY term)),
    sparse AS (
      SELECT q.query_id, tf.doc_id,
             round(sum(idf.idf * (tf.tf*2.2)
                       /(tf.tf + 1.2*(0.25+0.75*lens.dl/(SELECT avgdl FROM stats)))),4) AS bm25
      FROM qterms q JOIN tf USING (term) JOIN idf ON idf.term = tf.term
      JOIN lens ON lens.doc_id = tf.doc_id
      WHERE tf.doc_id != q.query_id
      GROUP BY q.query_id, tf.doc_id
    ),
    s_rank AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS sr
      FROM sparse QUALIFY sr <= 20),
    qv AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings WHERE vec_id < 10 AND embedding IS NOT NULL AND len(embedding) > 0),
    dense AS (
      SELECT qv.query_id, c.vec_id AS doc_id,
             round(list_dot_product(qv.qe, c.ce)
                   /(sqrt(list_dot_product(qv.qe, qv.qe))*sqrt(list_dot_product(c.ce, c.ce))),4) AS sim
      FROM qv, (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
                FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0) c
      WHERE c.vec_id != qv.query_id
    ),
    d_rank AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, doc_id) AS dr
      FROM dense WHERE sim IS NOT NULL QUALIFY dr <= 20),
    fused AS (
      SELECT coalesce(s.query_id, d.query_id) AS query_id,
             coalesce(s.doc_id, d.doc_id) AS doc_id,
             FLOOR((coalesce(1.0/(60+s.sr),0)+coalesce(1.0/(60+d.dr),0)) * 1e6 + 0.5) / 1e6 AS rrf
      FROM s_rank s FULL JOIN d_rank d ON s.query_id=d.query_id AND s.doc_id=d.doc_id
    )
    SELECT query_id, doc_id, rrf,
           row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
    FROM fused QUALIFY rank <= 10
    """,
)
# threshold 0.35 targets the top of this corpus's similarity range (max
# pairwise cosine ≈ 0.51, no planted near-identical vectors) — bucket
# width is recalibrated accordingly (see ann_topk_lsh docstring; a real
# ≥0.9 dedup pass would use the bits=12 default)
_register(
    "embedding_near_dup",
    lambda s, d: similarity.embedding_near_dup(s, d, threshold=0.35, tables=16, bits=4),
    None,
)

_CLUSTERS_ORACLE_SQL = """
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
                  / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  * 1e6 + 0.5) / 1e6 >= 0.4
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ), reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
    FROM reach GROUP BY a ORDER BY doc_id
    """

_register(
    "dedup_clusters",
    lambda s, d: dedup.duplicate_clusters(s, d, n=3, threshold=0.4),
    _CLUSTERS_ORACLE_SQL,
)

_register(
    "dedup_clusters_distributed",
    # driver_max_edges=0 FORCES the distributed min-label propagation
    # path — the plan a 100-TB corpus would run (the default entry's
    # graphs fit the ≤2M-edge driver union-find fast path, so every
    # committed bench/fingerprint measured only that; VERDICT r7 #5).
    # Identical output by construction, so it shares dedup_clusters'
    # recursive-CTE oracle; benched every round as a headline query.
    lambda s, d: dedup.duplicate_clusters(
        s, d, n=3, threshold=0.4, driver_max_edges=0
    ),
    _CLUSTERS_ORACLE_SQL,
)

_register(
    "sample_stratified",
    lambda s, d: sampling.stratified_sample(s, d),
    """
    SELECT doc_id, source FROM documents
    WHERE substring(md5('bn' || CAST(doc_id AS VARCHAR)), 1, 8) <
      CASE source
        WHEN 'src0' THEN 'cccccccc'
        WHEN 'src1' THEN '40000000'
        WHEN 'src2' THEN '80000000'
        ELSE '19999999'
      END
    """,
)

# -- multimodal -------------------------------------------------------------

def _mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = multimodal.attach_payload(load_table(spark, sf_dir, "documents"))
    return multimodal.frame_sample(docs).select("doc_id", "frame_idx")


_register(
    "multimodal_frames",
    _mm_frames,
    """
    SELECT doc_id, CAST(unnest(range(0,
        CAST(ceil(octet_length(encode(text)) / 100.0) AS BIGINT))) AS INT) AS frame_idx
    FROM documents
    """,
)


def _mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = multimodal.attach_payload(load_table(spark, sf_dir, "documents"))
    return multimodal.decode_features(docs)  # stub decode; rows-only check


_register("multimodal_decode_stub", _mm_decode, None)

_register(
    "multimodal_meta",
    multimodal.multimodal_meta,
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(ceil(octet_length(encode(text)) / 100.0) AS BIGINT) AS n_frames
    FROM documents
    """,
)


# -- time series ------------------------------------------------------------

_register(
    "join_asof_clicks",
    timeseries.asof_last_click,
    # oracle deliberately uses the correlated-subquery formulation (not
    # the union+window one the Spark side uses) so the two derivations
    # are independent
    """
    WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS purchase_ms
               FROM events WHERE event_type = 'purchase'
                 AND user_id IS NOT NULL AND ts IS NOT NULL),
         c AS (SELECT user_id, epoch_ms(ts) AS ts_ms
               FROM events WHERE event_type = 'click'
                 AND user_id IS NOT NULL AND ts IS NOT NULL),
         j AS (
           SELECT p.event_id, p.user_id, p.purchase_ms,
                  (SELECT max(c.ts_ms) FROM c
                   WHERE c.user_id = p.user_id
                     AND c.ts_ms <= p.purchase_ms) AS last_click_ms
           FROM p
         )
    SELECT event_id, user_id, purchase_ms, last_click_ms,
           purchase_ms - last_click_ms AS gap_ms
    FROM j
    """,
)
_register(
    "window_range_count",
    timeseries.sliding_error_rate,
    """
    WITH ev AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms
                FROM events
                WHERE user_id IS NOT NULL AND ts IS NOT NULL)
    SELECT event_id, user_id, ts_ms, recent_n FROM (
      SELECT event_id, user_id, ts_ms, event_type,
             count(*) OVER (PARTITION BY user_id ORDER BY ts_ms
                            RANGE BETWEEN 86400000 PRECEDING AND CURRENT ROW)
               AS recent_n
      FROM ev
    ) WHERE event_type = 'error'
    """,
)
_register(
    "ts_gap_fill_hourly",
    timeseries.gap_fill_hourly,
    """
    WITH ev AS (SELECT event_type, epoch_ms(ts) // 3600000 AS hour FROM events),
         hours AS (SELECT unnest(range((SELECT min(hour) FROM ev),
                                       (SELECT max(hour) FROM ev) + 1)) AS hour),
         types AS (SELECT DISTINCT event_type FROM ev),
         counts AS (SELECT hour, event_type, count(*) AS n
                    FROM ev GROUP BY 1, 2)
    SELECT h.hour, t.event_type, COALESCE(c.n, 0) AS cnt
    FROM hours h CROSS JOIN types t
    LEFT JOIN counts c ON c.hour = h.hour AND c.event_type = t.event_type
    """,
)

# -- cube / pivot / interval join -------------------------------------------

_register(
    "agg_cube_orders",
    relational.order_status_cube,
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           count(*) AS cnt, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
_register(
    "pivot_segment_status",
    relational.segment_status_pivot,
    """
    SELECT c_mktsegment,
           round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS total_f,
           round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS total_o,
           round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS total_p
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def _band_oracle() -> str:
    """DuckDB twin of ``doc_length_band_join`` built from the same band
    table (``relational.LENGTH_BANDS``) so the two cannot drift."""
    values = ", ".join(
        f"('{b}', {lo}, {hi})" for b, lo, hi in relational.LENGTH_BANDS
    )
    return f"""
    WITH bands(band, lo, hi) AS (VALUES {values})
    SELECT band, count(*) AS n_docs, round(avg(n_chars), 3) AS avg_chars
    FROM documents JOIN bands ON n_chars >= lo AND n_chars < hi
    GROUP BY band
    """


_register("join_length_bands", relational.doc_length_band_join, _band_oracle())

# -- sketches (approximate by design → rows-only; error bounds pinned
# by tests/test_sketch_ops.py against the exact twins) ----------------------

_register("agg_hll_distinct", relational.approx_distinct_users, None)
_register("agg_quantile_sketch", relational.approx_value_quantiles, None)

# -- curation pipeline (composed) -------------------------------------------

# The quality → exact-dedup → near-dup-removal funnel as CTEs shared by
# both pipeline oracles. The near-dup stage replays the transitive
# closure with a recursive CTE (same pattern as dedup_clusters).
_CURATE_CTES = """
    q AS (
      SELECT doc_id, source, n_chars, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
      WHERE len(string_split(text, ' ')) BETWEEN 30 AND 1000
        AND n_chars >= 100
    ), d AS (
      SELECT * FROM q
      WHERE doc_id IN (SELECT min(doc_id) FROM q GROUP BY md5(text))
    ), t AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3
               THEN list_transform(range(1, len(toks) - 1),
                                   i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
               ELSE [] END) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM d)
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM t a, t b
      WHERE a.doc_id < b.doc_id
        AND FLOOR(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  * 1e6 + 0.5) / 1e6 >= 0.4
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), reach(a, b) AS (
      SELECT a, b FROM edges
      UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), clusters AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
      FROM reach GROUP BY a
    )
"""

_register(
    "pipeline_curate",
    pipeline.curate_documents,
    f"""
    WITH RECURSIVE {_CURATE_CTES}
    SELECT d.doc_id, d.source, d.n_tokens, d.n_chars
    FROM d LEFT JOIN clusters c ON d.doc_id = c.doc_id
    WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
    """,
)
_register(
    "pipeline_funnel",
    pipeline.curation_funnel,
    f"""
    WITH RECURSIVE {_CURATE_CTES},
    kept AS (
      SELECT d.source, count(*) AS n_kept
      FROM d LEFT JOIN clusters c ON d.doc_id = c.doc_id
      WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
      GROUP BY d.source
    )
    SELECT s.source, s.n_in, s.n_quality, COALESCE(k.n_kept, 0) AS n_kept
    FROM (
      SELECT source, count(*) AS n_in,
             CAST(sum(CASE WHEN len(string_split(text, ' ')) BETWEEN 30 AND 1000
                            AND n_chars >= 100 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_quality
      FROM documents GROUP BY source
    ) s LEFT JOIN kept k ON s.source = k.source
    """,
)

_register(
    "pipeline_pack",
    pipeline.pack_sequences,
    """
    WITH c AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(sum(len(string_split(text, ' '))) OVER
               (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS cum
      FROM documents
    )
    SELECT doc_id, source, n_tokens,
           (cum - n_tokens) // 512 AS bin_id,
           cum - n_tokens AS start_offset
    FROM c
    """,
)

_register(
    "embedding_quantize",
    similarity.embedding_quantize,
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0)
    SELECT vec_id,
           round(sqrt(list_dot_product(v, v)), 6) AS norm,
           round(list_min(v), 6) AS qmin,
           round(list_max(v), 6) AS qmax,
           CAST(list_sum(list_transform(v,
             x -> CAST(round((x - list_min(v)) * 255 / (list_max(v) - list_min(v)))
                       AS BIGINT))) AS BIGINT) AS code_sum
    FROM e
    """,
)

_register(
    "join_salted_skew",
    relational.salted_revenue_by_status,
    """
    SELECT o_orderstatus,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)

_register(
    "pipeline_shards",
    pipeline.shard_manifest,
    """
    WITH d AS (
      SELECT CAST(instr('0123456789abcdef',
                   substring(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 1))
                  - 1 AS BIGINT) AS shard_id,
             doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             source
      FROM documents
    )
    SELECT shard_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           min(doc_id) AS min_doc_id,
           max(doc_id) AS max_doc_id,
           count(DISTINCT source) AS n_sources
    FROM d GROUP BY shard_id ORDER BY shard_id
    """,
)

_register(
    "sample_mixture",
    lambda s, d: sampling.mixture_sample(s, d),
    """
    WITH n AS (SELECT source, count(*) AS n_src FROM documents GROUP BY source),
         t AS (SELECT source,
                      CAST(CASE source
                             WHEN 'src0' THEN 50.0
                             WHEN 'src1' THEN 25.0
                             WHEN 'src2' THEN 12.5
                             ELSE 6.25
                           END AS DOUBLE) / n_src AS rate
               FROM n),
         thr AS (SELECT source,
                        CASE WHEN rate >= 1 THEN 'g'
                             ELSE printf('%08x',
                                    CAST(floor(rate * CAST(4294967296.0 AS DOUBLE))
                                         AS BIGINT))
                        END AS mix_thr
                 FROM t)
    SELECT d.doc_id, d.source
    FROM documents d JOIN thr USING (source)
    WHERE substring(md5('mix' || CAST(d.doc_id AS VARCHAR)), 1, 8) < mix_thr
    """,
)

_register(
    "sample_quality_topk",
    lambda s, d: sampling.quality_quantile_filter(s, d),
    """
    WITH q AS (
      SELECT doc_id, source,
             FLOOR(CAST(len(list_filter(string_split(text, ' '),
                                        x -> x IN ('a', 'the'))) AS DOUBLE)
                   / CAST(len(string_split(text, ' ')) AS DOUBLE)
                   * 1e6 + 0.5) / 1e6 AS q_ratio
      FROM documents
      WHERE text IS NOT NULL AND text <> ''
    ), r AS (
      SELECT doc_id, source, q_ratio,
             percent_rank() OVER (PARTITION BY source
                                  ORDER BY q_ratio, doc_id) AS pr
      FROM q
    )
    SELECT doc_id, source, q_ratio FROM r WHERE pr <= 0.5
    """,
)

_register(
    "dedup_clusters_lsh",
    # promoted round 10 (VERDICT r9 #7): the MinHash-LSH banding path
    # is recall-approximate IN GENERAL, but its signatures are seeded
    # and the banded candidate join is exact-Jaccard-verified, so its
    # output is deterministic — and at this corpus (plain AND the
    # docs-fuzz mutation, verified both) recall is total: the clusters
    # EQUAL the exact-PPJoin twin's, so it hashes the same
    # recursive-CTE oracle as dedup_clusters / _distributed. Same
    # params as the twins (n=3, threshold=0.4) so all three share one
    # oracle; the banding recall floor stays pinned in pytest for
    # corpora where recall is genuinely < 1.
    lambda s, d: dedup.duplicate_clusters_lsh(s, d, n=3, threshold=0.4),
    _CLUSTERS_ORACLE_SQL,
)

_register(
    "agg_heavy_hitters",
    relational.approx_heavy_hitters,
    None,  # frequent-items sketch (approx_top_k); the raw top-k rows
    # are tie-ambiguous at the k-boundary (the SET among equal counts
    # is sketch-internal) so no SQL oracle — the driver-verified twin
    # is agg_heavy_hitters_verified; accuracy also pinned in pytest
)

_register(
    "agg_heavy_hitters_verified",
    relational.heavy_hitters_verified,
    # promoted round 10 (VERDICT r9 #7), ann_index_persisted pattern:
    # under sketch capacity every reported count is exact and every
    # reported user is inside the ties-closed exact top-k, so the
    # violation counters are deterministically zero; boundary_cnt /
    # k_returned / n_at_or_above are data-derived ballast the oracle
    # recomputes independently
    """
    WITH ex AS (
      SELECT event_type, user_id, count(*) AS cnt
      FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      GROUP BY event_type, user_id
    ), r AS (
      SELECT event_type, cnt,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cnt DESC, user_id ASC) AS rn
      FROM ex
    ), b AS (
      SELECT event_type,
             CAST(min(cnt) AS BIGINT) AS boundary_cnt,
             CAST(max(rn) AS BIGINT) AS k_returned
      FROM r WHERE rn <= 5 GROUP BY event_type
    )
    SELECT b.event_type, b.boundary_cnt, b.k_returned,
           (SELECT CAST(count(*) AS BIGINT) FROM ex
            WHERE ex.event_type = b.event_type
              AND ex.cnt >= b.boundary_cnt) AS n_at_or_above,
           CAST(0 AS BIGINT) AS n_count_errors,
           CAST(0 AS BIGINT) AS n_outside_ties
    FROM b ORDER BY event_type
    """,
)

_register(
    "agg_quantiles_verified",
    relational.quantiles_verified,
    # round-10 NEW verified twin (the ann_index_persisted pattern,
    # third application): the GK sketch's VALUES are approximate, its
    # rank CONTRACT is exact — per-percentile violation counters are
    # deterministically zero; n_vals / tol_rows are the recomputable
    # ballast. accuracy=1000 mirrored in tol below.
    """
    SELECT coalesce(event_type, '(null)') AS event_type,
           CAST(count(value) AS BIGINT) AS n_vals,
           CAST(ceil(count(value) / 1000.0) AS BIGINT) + 1 AS tol_rows,
           CAST(0 AS BIGINT) AS viol50,
           CAST(0 AS BIGINT) AS viol95,
           CAST(0 AS BIGINT) AS viol99
    FROM events GROUP BY 1 ORDER BY 1
    """,
)

_register(
    "agg_hll_verified",
    relational.hll_distinct_verified,
    # round-10 NEW verified twin: HLL++ estimate vs exact distinct in
    # ONE mergeable groupBy; the 6*rsd envelope violation counter is
    # deterministically zero (sparse-mode-exact at these cardinalities,
    # and the sketch is deterministic given the data)
    """
    SELECT coalesce(event_type, '(null)') AS event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(0 AS BIGINT) AS n_violations
    FROM events GROUP BY 1 ORDER BY 1
    """,
)

_register(
    "privacy_k_anonymity",
    privacy.k_anonymize_events,
    # round-10 NEW capability: k-anonymity release with a 3-level
    # generalization ladder over (event_type, hour, value band); one
    # full-scan rollup, ladder decided on the rollup, broadcast back.
    # k=20 mirrored in the CASE thresholds below.
    """
    WITH qi AS (
      SELECT event_id,
             coalesce(event_type, '(null)') AS et,
             coalesce(CAST(FLOOR(epoch_ms(ts) / 3600000.0) AS BIGINT) % 24,
                      -1) AS hr,
             coalesce(CAST(FLOOR(value / 10.0) AS BIGINT), -1) AS b10
      FROM events
    ), l1 AS (
      SELECT et, hr, b10, count(*) AS n1,
             CAST(FLOOR(hr / 4.0) AS BIGINT) AS hr4,
             CAST(FLOOR(b10 / 2.0) AS BIGINT) AS b20
      FROM qi GROUP BY et, hr, b10
    ), l2 AS (
      SELECT et, hr4, b20, CAST(sum(n1) AS BIGINT) AS n2
      FROM l1 GROUP BY et, hr4, b20
    ), l3 AS (
      SELECT et, CAST(sum(n1) AS BIGINT) AS n3 FROM l1 GROUP BY et
    ), dec AS (
      SELECT l1.et, l1.hr, l1.b10, l1.hr4, l1.b20,
             CASE WHEN n1 >= 20 THEN 1 WHEN n2 >= 20 THEN 2
                  WHEN n3 >= 20 THEN 3 ELSE 4 END AS anon_level,
             CAST(CASE WHEN n1 >= 20 THEN n1 WHEN n2 >= 20 THEN n2
                       WHEN n3 >= 20 THEN n3 ELSE 0 END AS BIGINT)
               AS group_n
      FROM l1
      JOIN l2 ON l2.et = l1.et AND l2.hr4 = l1.hr4 AND l2.b20 = l1.b20
      JOIN l3 ON l3.et = l1.et
    )
    SELECT q.event_id,
           CASE WHEN d.anon_level = 4 THEN '(suppressed)' ELSE d.et END
             AS qi_type,
           CAST(CASE WHEN d.anon_level = 1 THEN d.hr
                     WHEN d.anon_level = 2 THEN d.hr4
                     ELSE -1 END AS BIGINT) AS qi_hour,
           CAST(CASE WHEN d.anon_level = 1 THEN d.b10
                     WHEN d.anon_level = 2 THEN d.b20
                     ELSE -1 END AS BIGINT) AS qi_band,
           CAST(d.anon_level AS INTEGER) AS anon_level,
           d.group_n
    FROM qi q
    JOIN dec d ON d.et = q.et AND d.hr = q.hr AND d.b10 = q.b10
    ORDER BY q.event_id
    """,
)

_register(
    "privacy_l_diversity",
    privacy.l_diversify_events,
    # round-10 NEW capability: k-anonymity + l-diversity (>= k rows
    # AND >= l distinct users per released group — closes the
    # homogeneity attack k alone leaves open). (QI, user)-grained base
    # rollup; every coarser level re-aggregates it. k=20, l=5 mirrored
    # in the CASE thresholds.
    """
    WITH qi AS (
      SELECT event_id,
             coalesce(event_type, '(null)') AS et,
             coalesce(CAST(FLOOR(epoch_ms(ts) / 3600000.0) AS BIGINT) % 24,
                      -1) AS hr,
             coalesce(CAST(FLOOR(value / 10.0) AS BIGINT), -1) AS b10,
             coalesce(user_id, -1) AS uid
      FROM events
    ), g1 AS (
      SELECT et, hr, b10, uid, count(*) AS cnt,
             CAST(FLOOR(hr / 4.0) AS BIGINT) AS hr4,
             CAST(FLOOR(b10 / 2.0) AS BIGINT) AS b20
      FROM qi GROUP BY et, hr, b10, uid
    ), l1 AS (
      SELECT et, hr, b10, CAST(sum(cnt) AS BIGINT) AS n1,
             CAST(count(*) AS BIGINT) AS u1
      FROM g1 GROUP BY et, hr, b10
    ), g2 AS (
      SELECT et, hr4, b20, uid, CAST(sum(cnt) AS BIGINT) AS cnt
      FROM g1 GROUP BY et, hr4, b20, uid
    ), l2 AS (
      SELECT et, hr4, b20, CAST(sum(cnt) AS BIGINT) AS n2,
             CAST(count(*) AS BIGINT) AS u2
      FROM g2 GROUP BY et, hr4, b20
    ), g3 AS (
      SELECT et, uid, CAST(sum(cnt) AS BIGINT) AS cnt
      FROM g1 GROUP BY et, uid
    ), l3 AS (
      SELECT et, CAST(sum(cnt) AS BIGINT) AS n3,
             CAST(count(*) AS BIGINT) AS u3
      FROM g3 GROUP BY et
    ), keyrows AS (
      SELECT DISTINCT et, hr, b10, hr4, b20 FROM g1
    ), dec AS (
      SELECT kk.et, kk.hr, kk.b10, kk.hr4, kk.b20,
        CASE WHEN n1 >= 20 AND u1 >= 5 THEN 1
             WHEN n2 >= 20 AND u2 >= 5 THEN 2
             WHEN n3 >= 20 AND u3 >= 5 THEN 3 ELSE 4 END AS anon_level,
        CAST(CASE WHEN n1 >= 20 AND u1 >= 5 THEN n1
                  WHEN n2 >= 20 AND u2 >= 5 THEN n2
                  WHEN n3 >= 20 AND u3 >= 5 THEN n3
                  ELSE 0 END AS BIGINT) AS group_n,
        CAST(CASE WHEN n1 >= 20 AND u1 >= 5 THEN u1
                  WHEN n2 >= 20 AND u2 >= 5 THEN u2
                  WHEN n3 >= 20 AND u3 >= 5 THEN u3
                  ELSE 0 END AS BIGINT) AS group_users
      FROM keyrows kk
      JOIN l1 ON l1.et = kk.et AND l1.hr = kk.hr AND l1.b10 = kk.b10
      JOIN l2 ON l2.et = kk.et AND l2.hr4 = kk.hr4 AND l2.b20 = kk.b20
      JOIN l3 ON l3.et = kk.et
    )
    SELECT q.event_id,
           CASE WHEN d.anon_level = 4 THEN '(suppressed)' ELSE d.et END
             AS qi_type,
           CAST(CASE WHEN d.anon_level = 1 THEN d.hr
                     WHEN d.anon_level = 2 THEN d.hr4
                     ELSE -1 END AS BIGINT) AS qi_hour,
           CAST(CASE WHEN d.anon_level = 1 THEN d.b10
                     WHEN d.anon_level = 2 THEN d.b20
                     ELSE -1 END AS BIGINT) AS qi_band,
           CAST(d.anon_level AS INTEGER) AS anon_level,
           d.group_n, d.group_users
    FROM qi q
    JOIN dec d ON d.et = q.et AND d.hr = q.hr AND d.b10 = q.b10
    ORDER BY q.event_id
    """,
)

_register(
    "pipeline_loso_ablation",
    pipeline.loso_ablation,
    # round-10 NEW capability: leave-one-source-out corpus ablation —
    # every source's exclusion stats from ONE (source, lang) rollup;
    # totals broadcast, no rescan. A language survives s's removal iff
    # its corpus count exceeds its count inside s.
    """
    WITH d AS (
      SELECT coalesce(source, '(null)') AS source,
             coalesce(lang, '(null)') AS lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             CAST(n_chars AS BIGINT) AS n_chars
      FROM documents
    ), sl AS (
      SELECT source, lang, count(*) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_toks,
             CAST(sum(n_chars) AS BIGINT) AS n_chars
      FROM d GROUP BY source, lang
    ), ps AS (
      SELECT source, CAST(sum(n_docs) AS BIGINT) AS s_docs,
             CAST(sum(n_toks) AS BIGINT) AS s_toks,
             CAST(sum(n_chars) AS BIGINT) AS s_chars
      FROM sl GROUP BY source
    ), tot AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
             CAST(sum(n_toks) AS BIGINT) AS t_toks,
             CAST(sum(n_chars) AS BIGINT) AS t_chars
      FROM sl
    ), lt AS (
      SELECT lang, CAST(sum(n_docs) AS BIGINT) AS l_docs
      FROM sl GROUP BY lang
    ), killed AS (
      SELECT sl.source, count(*) AS n_killed
      FROM sl JOIN lt ON lt.lang = sl.lang
      WHERE sl.n_docs = lt.l_docs
      GROUP BY sl.source
    ), nl AS (SELECT count(*) AS t_langs FROM lt)
    SELECT ps.source,
           CAST(tot.t_docs - ps.s_docs AS BIGINT) AS n_docs_excl,
           CAST(tot.t_toks - ps.s_toks AS BIGINT) AS n_tokens_excl,
           CAST(tot.t_chars - ps.s_chars AS BIGINT) AS n_chars_excl,
           round(CAST(tot.t_chars - ps.s_chars AS DOUBLE)
                 / nullif(CAST(tot.t_docs - ps.s_docs AS DOUBLE), 0), 6)
             AS avg_chars_excl,
           CAST(nl.t_langs - coalesce(k.n_killed, 0) AS BIGINT)
             AS n_langs_excl
    FROM ps CROSS JOIN tot CROSS JOIN nl
    LEFT JOIN killed k ON k.source = ps.source
    ORDER BY ps.source
    """,
)

_register(
    "ann_topk_pq",
    lambda s, d: similarity.ann_topk_pq(s, d),
    None,  # product-quantization ADC; recall floor vs exact ann_topk
    # pinned in pytest
)

_register(
    "dedup_incremental",
    dedup.incremental_new_docs,
    # NOT EXISTS (not NOT IN): NOT IN goes UNKNOWN-everywhere the
    # moment any hash is NULL; both engine and oracle also exclude
    # null-text rows outright, matching exact_dedup's policy
    """
    WITH corpus AS (
      SELECT md5(text) AS h FROM documents
      WHERE doc_id % 2 = 0 AND text IS NOT NULL
    ),
    batch AS (
      SELECT doc_id, source, md5(text) AS h FROM documents
      WHERE doc_id % 2 = 1 AND text IS NOT NULL
    )
    SELECT doc_id, source FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = b.h)
    """,
)

_register(
    "text_vocab_topk",
    lambda s, d: text.vocab_topk(s, d),
    """
    WITH t AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ), c AS (
      SELECT token, count(*) AS cnt FROM t WHERE token <> '' GROUP BY token
    )
    SELECT token, cnt,
           row_number() OVER (ORDER BY cnt DESC, token) AS rank
    FROM c ORDER BY cnt DESC, token LIMIT 100
    """,
)

_register(
    "text_quality_flags",
    text.quality_flags,
    """
    WITH q AS (
      SELECT doc_id, text,
             len(string_split(text, ' ')) AS n_tokens,
             strlen(text) AS n_chars,
             strlen(replace(text, ' ', '')) AS n_nospace,
             strlen(regexp_replace(text, '[#*=_~|>{}\\[\\]]', '', 'g'))
               AS n_nosym,
             strlen(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_noalpha,
             strlen(regexp_replace(text, '[A-Z]', '', 'g')) AS n_noupper
      FROM documents
    )
    SELECT doc_id,
           (n_tokens >= 30 AND n_tokens <= 1000) AS ok_len,
           (CAST(n_nospace AS DOUBLE) / n_tokens >= 3.0
            AND CAST(n_nospace AS DOUBLE) / n_tokens <= 12.0) AS ok_word_len,
           (CAST(n_chars - n_nosym AS DOUBLE) < 0.1 * n_chars) AS ok_symbol,
           ((n_chars - n_noalpha) = 0 OR
            CAST(n_chars - n_noupper AS DOUBLE)
              < 0.3 * (n_chars - n_noalpha)) AS ok_upper,
           ((n_tokens >= 30 AND n_tokens <= 1000)
            AND (CAST(n_nospace AS DOUBLE) / n_tokens >= 3.0
                 AND CAST(n_nospace AS DOUBLE) / n_tokens <= 12.0)
            AND (CAST(n_chars - n_nosym AS DOUBLE) < 0.1 * n_chars)
            AND ((n_chars - n_noalpha) = 0 OR
                 CAST(n_chars - n_noupper AS DOUBLE)
                   < 0.3 * (n_chars - n_noalpha))) AS ok_all
    FROM q
    """,
)

_register(
    "join_asof_tolerance",
    lambda s, d: timeseries.asof_last_click(s, d, tolerance_ms=3_600_000),
    # independent correlated-subquery derivation, as join_asof_clicks
    """
    WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS purchase_ms
               FROM events WHERE event_type = 'purchase'
                 AND user_id IS NOT NULL AND ts IS NOT NULL),
         c AS (SELECT user_id, epoch_ms(ts) AS ts_ms
               FROM events WHERE event_type = 'click'
                 AND user_id IS NOT NULL AND ts IS NOT NULL),
         j AS (
           SELECT p.event_id, p.user_id, p.purchase_ms,
                  (SELECT max(c.ts_ms) FROM c
                   WHERE c.user_id = p.user_id
                     AND c.ts_ms <= p.purchase_ms
                     AND c.ts_ms >= p.purchase_ms - 3600000) AS last_click_ms
           FROM p
         )
    SELECT event_id, user_id, purchase_ms, last_click_ms,
           purchase_ms - last_click_ms AS gap_ms
    FROM j
    """,
)

_register(
    "pipeline_release",
    pipeline.release_manifest,
    f"""
    WITH RECURSIVE {_CURATE_CTES},
    surv AS (
      SELECT d.doc_id, d.source, d.n_tokens
      FROM d LEFT JOIN clusters c ON d.doc_id = c.doc_id
      WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
    ),
    mix_n AS (SELECT source, count(*) AS n_src FROM surv GROUP BY source),
    mix_t AS (SELECT source,
                 CAST(CASE source
                        WHEN 'src0' THEN 50.0
                        WHEN 'src1' THEN 25.0
                        WHEN 'src2' THEN 12.5
                        ELSE 6.25
                      END AS DOUBLE) / n_src AS rate
          FROM mix_n),
    mix_thr AS (SELECT source,
                   CASE WHEN rate >= 1 THEN 'g'
                        ELSE printf('%08x',
                               CAST(floor(rate * CAST(4294967296.0 AS DOUBLE))
                                    AS BIGINT))
                   END AS mix_thr
            FROM mix_t),
    sampled AS (
      SELECT s.doc_id, s.n_tokens FROM surv s JOIN mix_thr USING (source)
      WHERE substring(md5('rel' || CAST(s.doc_id AS VARCHAR)), 1, 8) < mix_thr.mix_thr
    )
    SELECT CAST(instr('0123456789abcdef',
                 substring(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 1))
                - 1 AS BIGINT) AS shard_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           min(doc_id) AS min_doc_id,
           max(doc_id) AS max_doc_id
    FROM sampled GROUP BY shard_id ORDER BY shard_id
    """,
)

_register(
    "profile_orders",
    lambda s, d: relational.profile_table(s, d, "orders", exact=True),
    """
    SELECT c.column_name,
           (SELECT count(*) FROM orders) AS n_rows,
           c.n_nulls, c.n_distinct
    FROM (
      SELECT 'o_orderkey' AS column_name,
             count(*) FILTER (o_orderkey IS NULL) AS n_nulls,
             count(DISTINCT o_orderkey) AS n_distinct FROM orders
      UNION ALL SELECT 'o_custkey',
             count(*) FILTER (o_custkey IS NULL),
             count(DISTINCT o_custkey) FROM orders
      UNION ALL SELECT 'o_orderstatus',
             count(*) FILTER (o_orderstatus IS NULL),
             count(DISTINCT o_orderstatus) FROM orders
      UNION ALL SELECT 'o_totalprice',
             count(*) FILTER (o_totalprice IS NULL),
             count(DISTINCT o_totalprice) FROM orders
      UNION ALL SELECT 'o_orderdate',
             count(*) FILTER (o_orderdate IS NULL),
             count(DISTINCT o_orderdate) FROM orders
      UNION ALL SELECT 'o_orderpriority',
             count(*) FILTER (o_orderpriority IS NULL),
             count(DISTINCT o_orderpriority) FROM orders
    ) c
    """,
)

_register(
    "ann_topk_ivfpq",
    lambda s, d: similarity.ann_topk_ivfpq(s, d),
    None,  # composed IVF + residual-PQ index; recall floor pinned in pytest
)


def _ann_index_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index lifecycle end-to-end: build → write inverted
    lists + meta → load → serve, then DIFF the served scores against
    the in-session :func:`ann_topk_ivfpq` under the same parameters.
    The scoring itself is approximate (IVF-PQ recall — no SQL twin),
    but served-vs-in-session EXACT equality is deterministic, so the
    driver row pins the parity (VERDICT r8 #3): the full-outer diff on
    (query_id, neighbor_id, rank) with sim compared via null-safe
    equality must be empty, and the query count is data-derivable.
    Output: one row (n_queries, n_served_rows_minus_direct, n_mismatch)
    — the oracle expects (count of valid vec_id<10 embeddings, 0, 0).
    """
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="bn_ivfpq_")
    try:
        trained = similarity.build_ivfpq_index(spark, sf_dir, f"{tmp}/idx")
        q = similarity.load_embeddings(spark, sf_dir).filter(
            F.col("vec_id") < 10
        )
        served = similarity.query_ivfpq_index(spark, f"{tmp}/idx", q)
        # the twin reuses the build's deterministic (Cn, B) so the two
        # training collects + Lloyd loops run once (guide §1.2) — and
        # the determinism that reuse leans on is PROBED, not assumed
        # (round 15, VERDICT r14 #8): a second fully independent
        # training (fresh lineage from parquet through its own ordered
        # sample collect + Lloyd loop) must reproduce the exact model
        # bytes. A mismatch raises, failing the row loudly.
        import hashlib

        import numpy as np

        corpus2 = similarity.load_embeddings(spark, sf_dir).filter(
            F.col("vec_id") >= 10
        )
        Cn2, B2 = similarity._ivfpq_train(
            corpus2, similarity.IVF_CELLS, 32, 64, similarity.IVF_ITERS,
            2048,
        )

        def _model_hash(Cn, B):
            h = hashlib.sha256()
            h.update(np.ascontiguousarray(Cn, dtype=np.float64).tobytes())
            h.update(np.ascontiguousarray(B, dtype=np.float64).tobytes())
            return h.hexdigest()

        h1, h2 = _model_hash(*trained), _model_hash(Cn2, B2)
        if h1 != h2:
            raise RuntimeError(
                "ann_index_persisted: independent IVF-PQ retraining "
                f"diverged ({h1[:16]} != {h2[:16]}) — the deterministic-"
                "training premise of the shared-(Cn, B) twin is broken"
            )
        direct = similarity.ann_topk_ivfpq(spark, sf_dir, trained=trained)
        # presence is a join-side marker, NOT sim.isNotNull(): a
        # one-sided row whose sim is legitimately NULL (zero-norm
        # query vectors — the emb-fuzz corpus plants them) would
        # otherwise contribute 0 to both presence counts while
        # eqNullSafe(NULL, NULL) hides it from mismatch (ADVICE r9)
        s = served.withColumn("s_present", F.lit(1)).alias("s")
        d = direct.withColumn("d_present", F.lit(1)).alias("d")
        diff = s.join(
            d, ["query_id", "neighbor_id", "rank"], "full_outer"
        ).select(
            (
                F.col("s.s_present").isNull()
                | F.col("d.d_present").isNull()
                | ~F.col("s.sim").eqNullSafe(F.col("d.sim"))
            ).cast("bigint").alias("mismatch"),
            F.coalesce(F.col("s.s_present"), F.lit(0))
            .cast("bigint")
            .alias("is_served"),
            F.coalesce(F.col("d.d_present"), F.lit(0))
            .cast("bigint")
            .alias("is_direct"),
        )
        row = diff.agg(
            F.coalesce(F.sum("is_served") - F.sum("is_direct"), F.lit(0))
            .cast("bigint")
            .alias("row_delta"),
            F.coalesce(F.sum("mismatch"), F.lit(0))
            .cast("bigint")
            .alias("n_mismatch"),
        ).collect()[0]
        n_queries = q.count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        [(int(n_queries), int(row["row_delta"]), int(row["n_mismatch"]))],
        "n_queries bigint, row_delta bigint, n_mismatch bigint",
    )


_register(
    "ann_index_persisted",
    _ann_index_persisted,
    # build→persist→load→serve must score IDENTICALLY to the
    # in-session ann_topk_ivfpq — the parity is the driver check
    # (scoring itself is approximate-by-design, recall floor in
    # pytest); n_queries is honest data-derived ballast so the row is
    # not a constant
    """
    SELECT (SELECT count(*) FROM embeddings
            WHERE vec_id < 10 AND embedding IS NOT NULL
              AND len(embedding) > 0) AS n_queries,
           CAST(0 AS BIGINT) AS row_delta,
           CAST(0 AS BIGINT) AS n_mismatch
    """,
)

_register(
    "multimodal_features",
    lambda s, d: multimodal.byte_histogram_features(
        multimodal.attach_payload(load_table(s, d, "documents"))
    ),
    None,  # numpy-over-Arrow feature extraction; values pinned against a
    # pure-Python reference in pytest (array<double> output has no
    # stable DuckDB hash form)
)

