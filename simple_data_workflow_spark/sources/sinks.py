"""Sinks — writers for parquet/csv/json plus bucketed tables.

The reference has no sink surface at all (results live in Prefect flow
state, SURVEY.md §2.2); this is the engine extension. Scale posture:
``partitionBy`` for pruning on read, ``bucketBy`` so later joins on the
bucket key co-locate without a shuffle, explicit ``coalesce`` control so
small results don't produce thousands of files.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from simple_data_workflow_spark.sources import tablefs


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    max_files: int | None = None,
    registry=None,
) -> None:
    """Columnar sink; ``partition_by`` lays out hive-style directories so
    future scans partition-prune; ``max_files`` coalesces tiny outputs
    (coalesce, not repartition — no extra shuffle). Passing a
    ``CategoryRegistry`` stamps category levels into column metadata,
    which Spark persists in the parquet footer — readers recover it with
    ``operators.categorical.registry_from_schema`` instead of re-scanning
    for levels."""
    if registry is not None:
        from simple_data_workflow_spark.operators.categorical import (
            attach_registry_metadata,
        )

        df = attach_registry_metadata(df, registry)
    out = df.coalesce(max_files) if max_files else df
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(
    df: DataFrame, path: str, mode: str = "overwrite", header: bool = True, sep: str = ","
) -> None:
    df.write.mode(mode).option("header", header).option("sep", sep).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: joins/aggregations on ``bucket_col`` against
    another table bucketed the same way skip the shuffle entirely — the
    co-location strategy for repeated 100 TB fact-fact joins."""
    writer = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table)


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    order_cols: Sequence[str],
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-partitioned, sorted parquet layout for data skipping.

    ``repartitionByRange`` gives each output file a DISJOINT range of
    ``order_cols`` (sampled range boundaries — no global sort), and
    ``sortWithinPartitions`` orders rows inside each file, so every
    parquet row group carries tight, non-overlapping min/max stats on
    the leading key. A later scan with a point or range predicate on
    that key prunes to the few files/row groups whose range overlaps —
    the parquet-native analogue of clustering/Z-ordering a 100 TB fact
    table on its hottest filter column. Cost at write time: one range
    shuffle + per-partition sort (no driver bottleneck, no global sort).

    Use the highest-selectivity filter column first in ``order_cols``;
    skew in the key is absorbed by the range sampler (hot values span
    several files, still disjoint)."""
    parted = (
        df.repartitionByRange(num_files, *order_cols)
        if num_files
        else df.repartitionByRange(*order_cols)
    )
    parted.sortWithinPartitions(*order_cols).write.mode(mode).parquet(path)


def morton_code_column(df: DataFrame, cols: Sequence[str], bits: int = 16):
    """The bit-interleaved Morton code over 2-4 columns as ONE codegen
    Column (shift/and/or chain — no UDF). Each column normalizes to a
    ``bits``-bit rank over its [min, max] (bounds from one 1-row
    aggregate); NULLs rank as the range minimum. Numeric/temporal/
    boolean columns rank by value; STRING columns rank by an
    order-preserving 6-byte prefix surrogate (codepoints clamped to
    one byte, exact in a double) — no global sort, still codegen
    (ADVICE r11: the old ``cast('double')`` turned strings all-NULL
    and silently contributed no clustering bits). Other types raise.
    Shared by :func:`write_zorder_parquet` and Delta OPTIMIZE ZORDER."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = list(cols)
    if not 2 <= len(cols) <= 4:
        raise ValueError("z-ordering needs 2-4 columns")
    tmap = {f.name: f.dataType for f in df.schema.fields}

    def surrogate(c: str):
        t = tmap.get(c)
        if isinstance(t, T.StringType):
            expr = F.lit(0.0)
            for k in range(6):
                ch = F.ascii(F.substring(F.col(c), k + 1, 1))
                expr = expr + F.least(
                    F.coalesce(ch, F.lit(0)), F.lit(255)
                ).cast("double") * F.lit(float(256 ** (5 - k)))
            return expr
        if t is None or isinstance(
            t,
            (
                T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                T.FloatType, T.DoubleType, T.DecimalType, T.BooleanType,
                T.DateType, T.TimestampType, T.TimestampNTZType,
            ),
        ):
            return F.col(c).cast("double")
        raise ValueError(
            f"z-order column {c!r} has type {t.simpleString()} — only "
            "numeric/temporal/boolean/string columns cluster"
        )

    exprs = [surrogate(c) for c in cols]
    n = len(cols)
    top = (1 << bits) - 1
    bounds = df.agg(
        *[F.min(e).alias(f"mn_{i}") for i, e in enumerate(exprs)],
        *[F.max(e).alias(f"mx_{i}") for i, e in enumerate(exprs)],
    ).first()
    z = F.lit(0).cast("long")
    for i, e in enumerate(exprs):
        mn, mx = bounds[f"mn_{i}"], bounds[f"mx_{i}"]
        if mn is None or mx is None:
            continue  # all-null column contributes no bits
        span = (mx - mn) or 1.0
        rank = F.least(
            F.lit(top),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.coalesce(e, F.lit(mn)) - F.lit(mn))
                    / F.lit(span)
                    * F.lit(float(top))
                ),
            ),
        ).cast("long")
        for b in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(rank, b).bitwiseAND(F.lit(1)), b * n + i)
            )
    return z


def write_zorder_parquet(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    num_files: int | None = None,
    mode: str = "overwrite",
    bits: int = 16,
) -> None:
    """Z-order (Morton-curve) clustered parquet layout: multi-column
    data skipping where :func:`write_sorted_parquet` only serves its
    leading key.

    Each of ``cols`` (2-4 numeric/temporal columns) is normalized to a
    ``bits``-bit integer rank over its [min, max] range (one bounded
    1-row aggregate collect), and the ranks are bit-interleaved into a
    single Morton code — entirely codegen expressions (shift/and/or
    chain), no UDF. Range-partitioning + in-file sorting on that code
    gives every output file a compact hyper-rectangle in the combined
    key space, so parquet min/max stats stay tight on EVERY clustered
    column and a point/range predicate on any one of them prunes most
    files — the engine-level equivalent of Delta/Iceberg ``OPTIMIZE
    ZORDER BY``, built from ``repartitionByRange``.

    At 100 TB: one range shuffle on the 8-byte code (same cost class as
    a single-column cluster), no global sort, no driver data path. The
    min/max aggregate is one scan-speed job; reuse cached bounds via a
    stats table if rewriting many partitions. NULLs rank as 0 (they
    cluster with the range minimum — parquet null-counts still serve
    IS NULL pruning). Linear normalization assumes value ranges without
    extreme single-point outliers; an outlier compresses everyone
    else's ranks (the classic Z-order caveat — prefilter or cap if so).
    """
    from pyspark.sql import functions as F

    tagged = df.withColumn("__z", morton_code_column(df, cols, bits))
    parted = (
        tagged.repartitionByRange(num_files, "__z")
        if num_files
        else tagged.repartitionByRange("__z")
    )
    parted.sortWithinPartitions("__z").drop("__z").write.mode(mode).parquet(path)


def compact_parquet(
    spark,
    path: str,
    target_file_mb: int = 128,
    order_cols: Sequence[str] | None = None,
) -> int:
    """Small-file compaction — the lake-maintenance pass that keeps a
    streamed-into or over-partitioned parquet table scannable.

    Thousands of tiny files tax the driver (listing, footer reads,
    per-file task scheduling) far more than the data itself; compaction
    rewrites the directory into ~``target_file_mb`` files. Sized from
    the actual on-disk bytes (no data scan), written to a staging dir
    and swapped in by two directory renames (table to backup, staging
    to table). A failure mid-rewrite leaves the original table intact;
    a failed swap puts the backup back and raises. Pass ``order_cols``
    to re-cluster while compacting (``repartitionByRange`` +
    ``sortWithinPartitions`` — restores data-skipping stats that
    micro-batch appends destroy); otherwise a plain ``coalesce`` avoids
    any shuffle. Returns the new file count.
    """
    total_bytes = sum(
        size
        for rel, size, _ in tablefs.staged_files(spark, path)
        if rel.endswith(".parquet")
    )
    n_files = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    root = path.rstrip("/")
    staging = root + "__compacting"
    if order_cols:
        (
            df.repartitionByRange(n_files, *order_cols)
            .sortWithinPartitions(*order_cols)
            .write.mode("overwrite")
            .parquet(staging)
        )
    else:
        df.coalesce(n_files).write.mode("overwrite").parquet(staging)
    backup = root + "__precompact"
    tablefs.move(spark, root, backup)
    try:
        tablefs.move(spark, staging, root)
    except BaseException:
        tablefs.move(spark, backup, root)  # the backup is the only copy
        raise
    tablefs.remove(spark, backup, recursive=True)
    return sum(1 for n in tablefs.list_dir(spark, root) if n.endswith(".parquet"))


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
) -> None:
    """Columnar ORC sink (for downstream stacks standardized on ORC —
    Hive/Trino warehouses); same partition-pruning layout rules as
    ``write_parquet``."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)
