"""Z-order (Morton-curve) data layout — multi-dimensional clustering
so that a file/row-group's min-max statistics prune scans on EITHER
(or both) of two query columns, where a single-column sort only helps
its leading column. The layout trick behind Delta/Iceberg OPTIMIZE
ZORDER, built from Spark primitives: equal-width bucketize each
column, interleave the bucket bits into a Morton key (pure JVM bit
expressions), then ``repartitionByRange + sortWithinPartitions`` on
the key so each output file covers a compact hyper-rectangle.

Everything is one pass + one range exchange; the min/max bounds come
from a single tiny aggregate. The benefit is MEASURED in pytest, not
asserted rhetorically: footer statistics of the written files are read
back and a 2-D box query must overlap strictly fewer files than the
same data laid out by id order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table


def _spread_bits(v: Column, bits: int) -> Column:
    """Spread the low ``bits`` (≤ 16) of ``v`` onto even bit positions
    — the classic magic-mask Morton dilation, 5 shift/mask steps
    instead of ``bits`` mask-multiply-add terms. Exactly the integer
    ``Σ bit_i(v) · 4^i`` the term-by-term interleave computes (the
    leading ``& (2^bits − 1)`` reproduces its per-bit reads, negative
    inputs included: two's-complement bit i of v == bit i of v&mask)."""
    x = v.bitwiseAND(F.lit((1 << bits) - 1))
    x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(0x00FF00FF))
    x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
    x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x33333333))
    x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(0x55555555))
    return x.cast("bigint")


def _gather_bits(z: Column, bits: int) -> Column:
    """Inverse of :func:`_spread_bits`: collect the even bit positions
    of ``z`` back into the low ``bits`` — the de-interleave direction,
    shift/mask compaction instead of per-bit extract-multiply-add.
    Value-identical to ``Σ bit_{2i}(z) · 2^i`` for the ≤ 2·``bits``-bit
    keys the interleave produces."""
    x = z.bitwiseAND(F.lit(0x55555555))
    x = (x.bitwiseOR(F.shiftright(x, 1))).bitwiseAND(F.lit(0x33333333))
    x = (x.bitwiseOR(F.shiftright(x, 2))).bitwiseAND(F.lit(0x0F0F0F0F))
    x = (x.bitwiseOR(F.shiftright(x, 4))).bitwiseAND(F.lit(0x00FF00FF))
    x = (x.bitwiseOR(F.shiftright(x, 8))).bitwiseAND(F.lit(0x0000FFFF))
    return x.bitwiseAND(F.lit((1 << bits) - 1)).cast("bigint")


def morton_key(xb: Column, yb: Column, bits: int = 10) -> Column:
    """Interleave two ``bits``-wide bucket indexes into a Morton code.
    Pure JVM bit expressions — no UDF. For ``bits`` ≤ 16 this is the
    5-step magic-mask dilation (round 15: the 2·``bits``-term
    mask-multiply-add chain overflowed whole-stage codegen budgets and
    ran interpreted — the measured sf0.1 inversion scan dropped ~6× on
    the compact form; the produced INTEGER is provably the same
    function, and the DuckDB oracle still recomputes it term-by-term);
    wider keys keep the original folded term chain."""
    if bits <= 16:
        return _spread_bits(xb, bits) + F.shiftleft(
            _spread_bits(yb, bits), 1
        ).cast("bigint")
    key = F.lit(0).cast("bigint")
    for i in range(bits):
        key = (
            key
            + (F.shiftright(xb, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i)))
            + (
                F.shiftright(yb, i).bitwiseAND(F.lit(1))
                * F.lit(1 << (2 * i + 1))
            )
        )
    return key


def _bucketize(col: Column, lo: Column, hi: Column, bits: int) -> Column:
    """Equal-width bucket index in [0, 2^bits): map-only arithmetic on
    broadcast min/max bounds (degenerate hi==lo collapses to 0)."""
    n = 1 << bits
    span = hi - lo
    raw = F.when(span <= 0, F.lit(0)).otherwise(
        F.floor((col - lo) / span * n)
    )
    return F.least(F.greatest(raw, F.lit(0)), F.lit(n - 1)).cast("bigint")


def zorder_write(
    spark: SparkSession,
    sf_dir: str,
    dest: str,
    x_col: str = "user_id",
    y_col: str = "value",
    bits: int = 10,
    files: int = 16,
    table: str = "events",
    bounds=None,
) -> str:
    """Write ``table`` Z-ordered on (x_col, y_col): bucketize both
    columns over their global min/max (one scalar aggregate), Morton-
    interleave, range-partition into ``files`` output files sorted by
    the key. Each file then covers a compact rectangle of the
    (x, y) space — its parquet footer min/max on BOTH columns is
    tight, and any engine's stats-based pruning (including this one's)
    skips non-overlapping files for 2-D box predicates.

    ``bounds``: optional precomputed ``(x_lo, x_hi, y_lo, y_hi)`` over
    exactly this function's filtered row set (non-NULL, non-NaN on both
    columns) — a caller that already aggregated the table passes them
    in so the write does not re-scan for its own 4-value aggregate
    (round 15, guide §1.2)."""
    df = load_table(spark, sf_dir, table).filter(
        F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
        # NaN poisons min/max bounds for every row (ADVICE r13)
        & ~F.isnan(F.col(x_col).cast("double"))
        & ~F.isnan(F.col(y_col).cast("double"))
    )
    if bounds is None:
        row = df.agg(
            F.min(x_col).alias("x_lo"),
            F.max(x_col).alias("x_hi"),
            F.min(y_col).alias("y_lo"),
            F.max(y_col).alias("y_hi"),
        ).collect()[0]
        bounds = (row["x_lo"], row["x_hi"], row["y_lo"], row["y_hi"])
    bounds = dict(zip(("x_lo", "x_hi", "y_lo", "y_hi"), bounds))
    xb = _bucketize(
        F.col(x_col).cast("double"),
        F.lit(float(bounds["x_lo"])),
        F.lit(float(bounds["x_hi"])),
        bits,
    )
    yb = _bucketize(
        F.col(y_col).cast("double"),
        F.lit(float(bounds["y_lo"])),
        F.lit(float(bounds["y_hi"])),
        bits,
    )
    (
        df.withColumn("zkey", morton_key(xb, yb, bits))
        .repartitionByRange(files, "zkey")
        .sortWithinPartitions("zkey")
        .drop("zkey")
        .write.mode("overwrite")
        .parquet(dest)
    )
    return dest


def morton_keys(
    spark: SparkSession,
    sf_dir: str,
    bits: int = 10,
    x_col: str = "user_id",
    y_col: str = "value",
    table: str = "events",
) -> DataFrame:
    """The Z-order layout's KEY CONSTRUCTION as a direct value row
    (round 13, md5-twin discipline applied to bit math): per event,
    the Morton interleave of the equal-width bucket indexes of
    (x_col, y_col) over their global min/max. Every step — the
    min/max bounds, the ``floor((v - lo) / span * 2^bits)`` bucketize
    (IEEE double arithmetic, identical association both engines), the
    20-term shift/mask interleave — is exactly recomputable in DuckDB
    SQL, so the layout family's core algebra is value-hash-checked,
    not just pruning-contract-checked (``zorder_contract`` keeps the
    bit-inversion + pruning-soundness gates).

    Bounds ride IN-dataflow (1-row aggregate broadcast-cross-joined),
    no driver collect — the same pattern the layout writer should use
    at 100 TB anyway. Output: (event_id, zkey).

    NaN values are excluded alongside NULLs (ADVICE r13): a NaN would
    poison the min/max bounds for every row, and Spark and DuckDB give
    no cross-engine guarantee on NaN ordering/propagation through
    floor/least/greatest — the oracle twin carries the matching
    ``isnan()`` exclusion.
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    df = load_table(spark, sf_dir, table).filter(
        F.col("event_id").isNotNull()
        & F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
        & ~F.isnan(x)
        & ~F.isnan(y)
    )
    bounds = df.agg(
        F.min(x).alias("x_lo"),
        F.max(x).alias("x_hi"),
        F.min(y).alias("y_lo"),
        F.max(y).alias("y_hi"),
    )
    return df.crossJoin(F.broadcast(bounds)).select(
        "event_id",
        morton_key(
            _bucketize(x, F.col("x_lo"), F.col("x_hi"), bits),
            _bucketize(y, F.col("y_lo"), F.col("y_hi"), bits),
            bits,
        ).alias("zkey"),
    )


def _footer_minmax(md, col_idx: int):
    """(lo, hi) across a file's row groups from the parquet footer, or
    None when ANY row group lacks min/max statistics (a stats-less
    writer, or a type parquet keeps no stats for); callers
    must treat None as "cannot prune" (the conservative decision a
    stats-driven scan makes)."""
    los, his = [], []
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(col_idx).statistics
        if st is None or not st.has_min_max:
            return None
        los.append(st.min)
        his.append(st.max)
    return min(los), max(his)


def _file_overlaps_box(md, xi: int, yi: int, x_range, y_range) -> bool:
    """Footer-stats skip decision for one file: True when the file's
    min/max envelope intersects the box, or when stats are missing
    (no stats → cannot prove disjoint → must scan)."""
    xs, ys = _footer_minmax(md, xi), _footer_minmax(md, yi)
    if xs is None or ys is None:
        return True
    return (xs[1] >= x_range[0] and xs[0] <= x_range[1]
            and ys[1] >= y_range[0] and ys[0] <= y_range[1])


def files_overlapping_box(
    path: str,
    x_col: str,
    x_range: tuple,
    y_col: str,
    y_range: tuple,
) -> tuple[int, int]:
    """(overlapping, total) parquet files under ``path`` whose footer
    min/max statistics intersect the 2-D box — exactly the skip
    decision a stats-driven scan makes, measured from the real
    footers (pyarrow, driver-side metadata only)."""
    import glob
    import os

    import pyarrow.parquet as pq

    total = overlap = 0
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.read_metadata(f)
        schema_names = md.schema.to_arrow_schema().names
        xi, yi = schema_names.index(x_col), schema_names.index(y_col)
        total += 1
        if _file_overlaps_box(md, xi, yi, x_range, y_range):
            overlap += 1
    return overlap, total


def zorder_effectiveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: write the events table twice (Z-ordered on
    (user_id, value) vs event_id-ordered), measure how many files a
    selective 2-D box query overlaps under each layout from the real
    parquet footers, and return the comparison — the layout op's
    benefit as data, not prose. Output: (layout, files_hit,
    files_total)."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="zorder_bench_")
    try:
        files = 16
        z_dest = zorder_write(spark, sf_dir, f"{tmp}/z", files=files)
        src = load_table(spark, sf_dir, "events").filter(
            F.col("user_id").isNotNull() & F.col("value").isNotNull()
        )
        id_dest = f"{tmp}/id"
        (
            src.repartitionByRange(files, "event_id")
            .sortWithinPartitions("event_id")
            .write.mode("overwrite")
            .parquet(id_dest)
        )
        box = dict(
            x_col="user_id",
            x_range=(2, 4),
            y_col="value",
            y_range=(10.0, 25.0),
        )
        z_hit, z_total = files_overlapping_box(z_dest, **box)
        id_hit, id_total = files_overlapping_box(id_dest, **box)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        [("zorder", z_hit, z_total), ("id_order", id_hit, id_total)],
        "layout string, files_hit int, files_total int",
    )


def zorder_contract(spark: SparkSession, sf_dir: str, bits: int = 10) -> DataFrame:
    """Driver-verified contract for the Z-order layout family (never
    driver-checked in rounds 1-11). Two deterministic guarantees:

    * MORTON EXACTNESS: for every row, extracting bit ``2i`` / ``2i+1``
      of the constructed key must give back bit ``i`` of the x / y
      bucket index — the inverse de-interleave as an independent
      expression path (extraction vs construction):
      ``n_bit_violations`` = 0.
    * PRUNING SOUNDNESS (no false negatives): after a real
      :func:`zorder_write`, every row inside the benchmark box must
      live in a file whose parquet-footer stats overlap the box —
      footer-based file skipping can never drop a matching row:
      ``n_rows_in_skipped_files`` = 0. (The *advantage* of the layout
      is measured by ``zorder_effectiveness`` and pytest-gated; this
      row pins its CORRECTNESS.)

    Ballast: ``n_rows`` = events with non-NULL (user_id, value) — the
    rows the layout is defined on.
    """
    import os
    import shutil
    import tempfile

    df = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    # one aggregate job for ballast + bounds (round 14, guide §1.2 —
    # the row count and the bucket bounds scanned the table twice);
    # round 15: the same job also computes the NaN-guarded bounds over
    # exactly zorder_write's filtered row set (conditional min/max), so
    # the write below skips its own 4-value aggregate scan
    w_ok = ~F.isnan(F.col("user_id").cast("double")) & ~F.isnan(
        F.col("value").cast("double")
    )
    bounds = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("user_id").alias("x_lo"),
        F.max("user_id").alias("x_hi"),
        F.min("value").alias("y_lo"),
        F.max("value").alias("y_hi"),
        F.min(F.when(w_ok, F.col("user_id"))).alias("wx_lo"),
        F.max(F.when(w_ok, F.col("user_id"))).alias("wx_hi"),
        F.min(F.when(w_ok, F.col("value"))).alias("wy_lo"),
        F.max(F.when(w_ok, F.col("value"))).alias("wy_hi"),
    ).collect()[0]
    n_rows = int(bounds["n_rows"])
    xb = _bucketize(
        F.col("user_id").cast("double"),
        F.lit(float(bounds["x_lo"])),
        F.lit(float(bounds["x_hi"])),
        bits,
    )
    yb = _bucketize(
        F.col("value").cast("double"),
        F.lit(float(bounds["y_lo"])),
        F.lit(float(bounds["y_hi"])),
        bits,
    )
    # materialized (one skinny pass): the doubling shift/mask chains in
    # morton_key/_gather_bits each reference their input twice per
    # level, so letting CollapseProject inline construction INTO the
    # extraction filter below squares the expression tree (~70k nodes —
    # a janino-OOM). The checkpoint pins (xb, yb, z) as leaf columns;
    # the extraction then compiles as a small codegen'd filter.
    keyed = df.select(
        xb.alias("xb"), yb.alias("yb"), morton_key(xb, yb, bits).alias("z")
    ).localCheckpoint(eager=True)
    # inverse path: de-interleave the constructed key — the gather
    # direction (mask-compaction), independent of the construction's
    # spread direction; same per-bit semantics as the former
    # extract-multiply-add loop (round 15: compact form so the
    # inversion scan stays inside whole-stage codegen)
    if bits <= 16:
        x_back = _gather_bits(F.col("z"), bits)
        y_back = _gather_bits(F.shiftright(F.col("z"), 1), bits)
    else:  # mirror morton_key's wide-key fallback
        x_back = F.lit(0).cast("bigint")
        y_back = F.lit(0).cast("bigint")
        for i in range(bits):
            x_back = x_back + (
                F.shiftright(F.col("z"), 2 * i).bitwiseAND(F.lit(1))
                * F.lit(1 << i)
            )
            y_back = y_back + (
                F.shiftright(F.col("z"), 2 * i + 1).bitwiseAND(F.lit(1))
                * F.lit(1 << i)
            )
    n_bit_violations = keyed.filter(
        (x_back != F.col("xb")) | (y_back != F.col("yb"))
    ).count()
    from .util import release_checkpoint

    release_checkpoint(keyed)  # no consumer past the count

    tmp = tempfile.mkdtemp(prefix="zorder_contract_")
    try:
        dest = zorder_write(
            spark,
            sf_dir,
            f"{tmp}/z",
            bits=bits,
            bounds=(
                bounds["wx_lo"],
                bounds["wx_hi"],
                bounds["wy_lo"],
                bounds["wy_hi"],
            ),
        )
        box = dict(
            x_col="user_id",
            x_range=(2, 4),
            y_col="value",
            y_range=(10.0, 25.0),
        )
        # footer-overlap decision per file (the skip list)...
        overlap_files = set()
        import glob

        import pyarrow.parquet as pq

        for fpath in glob.glob(os.path.join(dest, "*.parquet")):
            md = pq.read_metadata(fpath)
            names = md.schema.to_arrow_schema().names
            xi, yi = names.index("user_id"), names.index("value")
            if _file_overlaps_box(
                md, xi, yi, box["x_range"], box["y_range"]
            ):
                overlap_files.add(os.path.basename(fpath))
        # ...vs the rows actually inside the box, attributed to files
        in_box = (
            spark.read.parquet(dest)
            .withColumn(
                "f",
                F.element_at(
                    F.split(F.input_file_name(), "/"), -1
                ),
            )
            .filter(
                (F.col("user_id") >= box["x_range"][0])
                & (F.col("user_id") <= box["x_range"][1])
                & (F.col("value") >= box["y_range"][0])
                & (F.col("value") <= box["y_range"][1])
            )
            .groupBy("f")
            .count()
            .collect()
        )
        n_missed = sum(
            int(r["count"]) for r in in_box
            if r["f"] not in overlap_files
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        [(int(n_rows), int(n_bit_violations), int(n_missed))],
        "n_rows bigint, n_bit_violations bigint,"
        " n_rows_in_skipped_files bigint",
    )
