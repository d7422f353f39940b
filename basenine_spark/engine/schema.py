"""Write-time JSON schema maintenance for the durable document log.

The round-2 design learned the typed-view schema by running
``spark.read.json`` over an RDD projection of the **entire** log — a
full corpus scan plus a per-row Python round-trip, re-paid on first
query after every restart and whenever a batch introduced a new
top-level key.  At 100 TB that is a corpus-wide JSON parse to learn
metadata that every ingest batch already knows.

This module maintains the schema **at write time** instead, the way a
table format (Delta/Iceberg) maintains schema-evolution metadata: each
ingest batch's shape is inferred driver-side from the already-parsed
documents (the batch is in hand — no job), merged into the running
union schema with the same promotion rules Spark's own JSON inference
uses (``JsonInferSchema.compatibleType``), and persisted in
``_state.json`` so a restart restores it without touching the data.

Rules mirrored from Spark's JSON inference (verified against
``spark.read.json`` in ``tests/test_schema_inference.py``):

* int fitting int64 → ``long``; wider (≤38 digits) → ``decimal(38,0)``;
  wider still → ``double``; any fractional/exponent literal → ``double``
* ``null`` → ``NullType`` placeholder (a later batch may type it)
* object → struct with **alphabetically sorted**, nullable fields
* ``[]`` → ``array<null>`` placeholder
* merge: equal → same; numeric pair → wider numeric; ``NullType`` + t →
  t; struct ∪ struct → field-union (recursive); array + array → merged
  element; anything else → ``string`` (JSON text preserved verbatim —
  ``from_json`` reads any value into a string field)
* finalize (parse time): remaining ``NullType`` → ``string``
"""

from __future__ import annotations

import json
from typing import Any, Iterable, Optional

from pyspark.sql import types as T

_LONG_MIN, _LONG_MAX = -(2**63), 2**63 - 1


def infer_value_type(value: Any) -> T.DataType:
    """Spark-compatible type of one parsed JSON value."""
    if value is None:
        return T.NullType()
    if isinstance(value, bool):  # before int: bool is an int subclass
        return T.BooleanType()
    if isinstance(value, int):
        if _LONG_MIN <= value <= _LONG_MAX:
            return T.LongType()
        digits = len(str(abs(value)))
        if digits <= 38:
            return T.DecimalType(digits, 0)
        return T.DoubleType()
    if isinstance(value, float):
        return T.DoubleType()
    if isinstance(value, str):
        return T.StringType()
    if isinstance(value, list):
        elem: T.DataType = T.NullType()
        for v in value:
            elem = merge_types(elem, infer_value_type(v))
        return T.ArrayType(elem, True)
    if isinstance(value, dict):
        return T.StructType(
            [
                T.StructField(k, infer_value_type(value[k]), True)
                for k in sorted(value)
            ]
        )
    raise TypeError(f"not a JSON value: {type(value).__name__}")


_NUM_RANK = {"long": 0, "decimal(38,0)": 1, "double": 2}


def _num_rank(dt: T.DataType) -> Optional[int]:
    if isinstance(dt, T.LongType):
        return 0
    if isinstance(dt, T.DecimalType):
        return 1
    if isinstance(dt, T.DoubleType):
        return 2
    return None


def merge_types(a: T.DataType, b: T.DataType) -> T.DataType:
    """``JsonInferSchema.compatibleType``: widen within numerics, union
    structs, merge array elements, fall back to string."""
    if a == b:
        return a
    if isinstance(a, T.NullType):
        return b
    if isinstance(b, T.NullType):
        return a
    ra, rb = _num_rank(a), _num_rank(b)
    if ra is not None and rb is not None:
        if 2 in (ra, rb):
            return T.DoubleType()
        # integral pair: widen precision (a long is decimal(20,0))
        pa = a.precision if isinstance(a, T.DecimalType) else 20
        pb = b.precision if isinstance(b, T.DecimalType) else 20
        return T.DecimalType(min(max(pa, pb), 38), 0)
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        fa = {f.name: f.dataType for f in a.fields}
        fb = {f.name: f.dataType for f in b.fields}
        names = sorted(set(fa) | set(fb))
        return T.StructType(
            [
                T.StructField(
                    n,
                    merge_types(fa[n], fb[n])
                    if n in fa and n in fb
                    else (fa[n] if n in fa else fb[n]),
                    True,
                )
                for n in names
            ]
        )
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(merge_types(a.elementType, b.elementType), True)
    return T.StringType()


def finalize_type(dt: T.StructType) -> T.StructType:
    """Parse-ready form, mirroring Spark's ``canonicalizeType``:
    ``NullType`` placeholders become ``string`` and (recursively) empty
    structs are dropped — ``{"a": {}}`` contributes no field."""
    out = _canon(dt)
    return out if isinstance(out, T.StructType) else T.StructType([])


def _canon(dt: T.DataType) -> Optional[T.DataType]:
    if isinstance(dt, T.NullType):
        return T.StringType()
    if isinstance(dt, T.ArrayType):
        elem = _canon(dt.elementType)
        return None if elem is None else T.ArrayType(elem, True)
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            ft = _canon(f.dataType)
            if ft is not None:
                fields.append(T.StructField(f.name, ft, True))
        return T.StructType(fields) if fields else None
    return dt


def infer_batch_schema(docs: Iterable[Any]) -> T.StructType:
    """Union shape of one ingest batch of parsed documents (dicts)."""
    acc: T.DataType = T.StructType([])
    for doc in docs:
        acc = merge_types(acc, infer_value_type(doc))
    assert isinstance(acc, T.StructType)
    return acc


def schema_to_json(dt: T.StructType) -> str:
    return json.dumps(dt.jsonValue())


def schema_from_json(text: str) -> T.StructType:
    out = T.StructType.fromJson(json.loads(text))
    return out


def override_path_string(dt: T.DataType, path: tuple) -> T.DataType:
    """Type of ``dt`` after an ingest-time ``redact`` of ``path``: the
    leaf becomes ``string`` ("[REDACTED]") wherever the chain resolves
    through structs; anything else (array/scalar crossing, absent name)
    is the reference's no-op (ojg Child fragments only descend maps)."""
    if not path or not isinstance(dt, T.StructType):
        return T.StringType() if not path else dt
    name, rest = path[0], path[1:]
    fields = []
    for f in dt.fields:
        if f.name == name:
            fields.append(
                T.StructField(name, override_path_string(f.dataType, rest), True)
            )
        else:
            fields.append(f)
    return T.StructType(fields)


def common_leaves_unchanged(old: T.DataType, new: T.DataType) -> bool:
    """True when every path present in BOTH schemas has the identical
    type — the condition under which parquet files shredded with ``old``
    stay readable under an explicit ``new`` read schema (new fields read
    as null; a changed leaf type — e.g. long → double widening — would
    need a parquet upcast the reader may not do, so shredded reads are
    disabled then)."""
    if isinstance(old, T.StructType) and isinstance(new, T.StructType):
        fo = {f.name: f.dataType for f in old.fields}
        fn = {f.name: f.dataType for f in new.fields}
        return all(
            common_leaves_unchanged(fo[k], fn[k]) for k in fo.keys() & fn.keys()
        )
    if isinstance(old, T.ArrayType) and isinstance(new, T.ArrayType):
        return common_leaves_unchanged(old.elementType, new.elementType)
    return old == new


def widen_to_merged(batch: T.DataType, merged: T.DataType) -> T.DataType:
    """The batch's field STRUCTURE carrying the merged schema's leaf
    TYPES — the write schema that keeps a batch's shredded files
    readable under the union read schema.

    Found round 14 by the persistence driver row: a batch whose leaf is
    NARROWER than the accumulated type (e.g. an integer ``value`` after
    earlier doubles) merges without changing the union schema, so the
    ``common_leaves_unchanged`` guard correctly allows shredding — but
    writing the batch with its OWN schema binds the parquet column to
    INT64, which Spark's vectorized reader cannot serve under the
    union read schema's DOUBLE. Widening each common leaf to the merged
    type fixes the write side (``from_json`` parses 999 as 999.0);
    fields absent from the merged schema (impossible by construction,
    but harmless) and NullType placeholders keep the batch's own type.
    """
    if isinstance(batch, T.StructType) and isinstance(merged, T.StructType):
        mf = {f.name: f.dataType for f in merged.fields}
        return T.StructType(
            [
                T.StructField(
                    f.name,
                    widen_to_merged(f.dataType, mf[f.name])
                    if f.name in mf
                    else f.dataType,
                    True,
                )
                for f in batch.fields
            ]
        )
    if isinstance(batch, T.ArrayType) and isinstance(merged, T.ArrayType):
        return T.ArrayType(
            widen_to_merged(batch.elementType, merged.elementType), True
        )
    if isinstance(batch, T.NullType) or isinstance(
        merged, (T.StructType, T.ArrayType, T.NullType)
    ):
        # all-null placeholder stays droppable; a shape conflict with
        # the merged side is the guard's business, not ours
        return batch
    return merged


def shred_write_schema(dt: T.StructType) -> T.StructType:
    """Schema for writing a batch's shredded ``doc`` column: like
    :func:`finalize_type` but NullType placeholders are DROPPED instead
    of stringified — an all-null field binds no parquet type, leaving a
    later batch free to type it without breaking shredded reads."""
    out = _shred_canon(dt)
    return out if isinstance(out, T.StructType) else T.StructType([])


def _shred_canon(dt: T.DataType) -> Optional[T.DataType]:
    if isinstance(dt, T.NullType):
        return None
    if isinstance(dt, T.ArrayType):
        elem = _shred_canon(dt.elementType)
        return None if elem is None else T.ArrayType(elem, True)
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            ft = _shred_canon(f.dataType)
            if ft is not None:
                fields.append(T.StructField(f.name, ft, True))
        return T.StructType(fields) if fields else None
    return dt


def infer_json_lines_schema(spark, lines_df):
    """Distributed JSON schema inference over a single-string-column
    DataFrame of JSON lines, staying JVM-side end-to-end.

    ``spark.read.json(rdd)`` (the PySpark-visible spelling) round-trips
    every line JVM -> Python worker -> JVM just to re-wrap the strings —
    at backfill scale that's a full extra serialization of the corpus.
    The Scala API reads a ``Dataset[String]`` directly; we reach it via
    the public ``Encoders.STRING`` + ``DataFrameReader.json(Dataset)``
    surface. Falls back to the RDD spelling if the gateway call fails.

    Returns the inferred ``StructType``. PERMISSIVE-mode inference
    surfaces malformed lines as a ``_corrupt_record`` field in the
    result — callers that need all-or-none validation check for it
    (a document key literally named ``_corrupt_record`` false-positives
    toward the safe path).

    The reader is pinned STRICT so "malformed" means the same thing
    here as in the row backend's ``json.loads`` (the wire path's
    validator): Jackson's lax defaults would otherwise accept
    single-quoted documents like ``{'a': 1}`` with no
    ``_corrupt_record``, letting the bulk fast path ingest raw lines
    the row path would reject batch-wide — and store a line that later
    breaks every ``json.loads`` consumer. ``allowNonNumericNumbers``
    stays at Spark's default (true) deliberately: ``json.loads`` also
    accepts ``NaN``/``Infinity``/``-Infinity``, and the row path's
    ``json.dumps`` re-emission produces those tokens."""
    from pyspark.sql import DataFrame as _PyDF

    strict_opts = {
        "allowSingleQuotes": "false",
        "allowUnquotedFieldNames": "false",
        "allowComments": "false",
        "allowNumericLeadingZeros": "false",
        "allowBackslashEscapingAnyCharacter": "false",
        "allowUnquotedControlChars": "false",
    }
    col0 = lines_df.columns[0]
    one_col = lines_df.select(col0)
    try:
        enc = spark._jvm.org.apache.spark.sql.Encoders.STRING()
        jds = getattr(one_col._jdf, "as")(enc)
        reader = spark._jsparkSession.read()
        for k, v in strict_opts.items():
            reader = reader.option(k, v)
        return _PyDF(reader.json(jds), spark).schema
    except Exception:
        reader = spark.read
        for k, v in strict_opts.items():
            reader = reader.option(k, v)
        return reader.json(one_col.rdd.map(lambda r: r[0])).schema
