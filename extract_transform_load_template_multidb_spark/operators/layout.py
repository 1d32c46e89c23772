"""Write-layout optimization: Z-order (Morton) clustering for data skipping.

A 100 TB table is read thousands of times per write, so HOW rows land in
files decides scan cost for every later query. Parquet readers skip row
groups whose column min/max excludes the predicate — but that only works
if each file covers a NARROW range of the filtered column. A linear sort
gives perfect locality on the leading column and none on the others;
interleaving the bits of several columns (the public Morton/Z-order curve
used by Delta/Iceberg ``OPTIMIZE ZORDER BY``) gives every interleaved
column bounded per-file spans, so min/max skipping works on ALL of them.

Everything here is DataFrame-native: bucketize → interleave bits with
integer expressions → ``repartitionByRange`` on the z-value (one range
shuffle, Spark's sampled range partitioner) → sort within partitions →
write. The only driver-side work is a one-row min/max aggregate per
column (at scale those bounds usually come from table metadata — pass
``bounds`` to skip the scan).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _to_long(col: Column, dtype: str) -> Column:
    """Normalize an orderable column to a long for bucketing."""
    if dtype in ("timestamp", "timestamp_ntz"):
        return F.unix_micros(col.cast("timestamp"))
    if dtype == "date":
        return F.datediff(col, F.lit("1970-01-01")).cast("long")
    return col.cast("long")


def z_value(bucket_cols: list[Column], bits: int) -> Column:
    """Morton code: interleave ``bits`` bits of each bucketized column.

    Bit j of column i lands at position ``j * n_cols + i`` — pure integer
    shifts/ors, whole-stage-codegen friendly, no UDF. Inputs must already
    be in [0, 2^bits); total bits must fit a long.
    """
    n = len(bucket_cols)
    if n * bits > 63:
        raise ValueError("interleaved width must fit a signed long")
    terms = []
    for i, c in enumerate(bucket_cols):
        for j in range(bits):
            terms.append(
                F.shiftleft(
                    F.shiftright(c, j).bitwiseAND(F.lit(1)), j * n + i
                )
            )
    out = terms[0]
    for t in terms[1:]:
        out = out.bitwiseOR(t)
    return out


def with_z_value(
    df: DataFrame,
    cols: list[str],
    bits: int = 12,
    bounds: dict[str, tuple[int, int]] | None = None,
) -> DataFrame:
    """Attach ``__z`` — the Morton code of min/max-normalized ``cols``.

    ``bounds`` maps column → (min, max) in long form (micros for
    timestamps); omitted bounds are computed with ONE one-row aggregate
    over the input (at 100 TB prefer passing metadata-known bounds).
    """
    dtypes = dict(df.dtypes)
    longs = {c: _to_long(F.col(c), dtypes[c]) for c in cols}
    bounds = dict(bounds or {})
    missing = [c for c in cols if c not in bounds]
    if missing:
        aggs = []
        for c in missing:
            aggs += [
                F.min(longs[c]).alias(f"__mn_{c}"),
                F.max(longs[c]).alias(f"__mx_{c}"),
            ]
        row = df.agg(*aggs).first()
        for c in missing:
            bounds[c] = (row[f"__mn_{c}"], row[f"__mx_{c}"])
    # Integer-only bucket math ((x-lo)*top div span): exact, overflow-safe
    # for micro-timestamps × 2^bits, and bit-identical on any engine — a
    # float path would make the layout (and its oracle) rounding-dependent.
    out = df
    buckets = []
    top = (1 << bits) - 1
    for c in cols:
        lo, hi = bounds[c]
        span = max(hi - lo, 1)
        out = out.withColumn(f"__l_{c}", longs[c])
        scaled = F.expr(f"((__l_{c} - {lo}L) * {top}L) div {span}L")
        buckets.append(F.greatest(F.lit(0), F.least(F.lit(top), scaled)))
    return out.withColumn("__z", z_value(buckets, bits)).drop(
        *[f"__l_{c}" for c in cols]
    )


def zorder_write(
    df: DataFrame,
    cols: list[str],
    path: str,
    n_files: int,
    bits: int = 12,
    bounds: dict[str, tuple[int, int]] | None = None,
) -> None:
    """Write ``df`` as ``n_files`` parquet files Z-ordered on ``cols``.

    One range shuffle on the z-value (sampled range partitioner ⇒
    balanced files), an in-partition sort (no global sort), and the
    helper column dropped before write. Every ``cols`` member gets
    bounded per-file min/max spans — the physical property parquet
    row-group skipping and file pruning need, verified by
    ``tests/test_layout.py``.
    """
    (
        with_z_value(df, cols, bits, bounds)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_files(
    spark,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    size-targeted files (the maintenance op every streaming/incremental
    sink needs — thousands of KB-scale micro-batch files turn each later
    scan into a file-listing and task-scheduling storm).

    File count = ceil(total_bytes / target) from the source listing (no
    data pass); rows land via one round-robin repartition — or one range
    shuffle when ``sort_cols`` is given, preserving a clustering while
    compacting (compose with the z-value for full Z-order maintenance).
    Returns the output file count. Parquet has no transactional swap, so
    the rewrite goes to ``dst_path``; on Delta/Iceberg this is OPTIMIZE
    and the swap is a metadata commit.
    """
    import math

    from py4j.java_gateway import java_import

    jvm = spark.sparkContext._jvm
    java_import(jvm, "org.apache.hadoop.fs.Path")
    hpath = jvm.Path(src_path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    total = sum(
        f.getLen()
        for f in fs.listStatus(hpath)
        if f.getPath().getName().endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(src_path)
    if sort_cols:
        df = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        df = df.repartition(n_files)
    df.write.mode("overwrite").parquet(dst_path)
    return n_files
