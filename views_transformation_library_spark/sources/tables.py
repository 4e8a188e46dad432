"""Sources & sinks.

The reference reads nothing from disk (data arrives from viewser/ingester
services, SURVEY.md §1.4). This engine's canonical source is Parquet with
pushdown-friendly declarative reads; CSV/JSON/JDBC are thin wrappers that
keep explicit schemas (no runaway inference on big data); the sink is
partitioned Parquet. Lakehouse formats (Delta/Iceberg/Hudi) need jars not
present in this image and are gated behind import-try.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: read_table(spark, sf_dir, n) for n in (names or TABLES)}


def read_parquet(spark: SparkSession, path: str, schema: StructType | str | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    header: bool = True,
    **options,
) -> DataFrame:
    """CSV with an explicit schema (inferSchema double-scans the data —
    avoid on anything large)."""
    reader = spark.read.option("header", str(header).lower())
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, schema: StructType | str | None = None, **options
) -> DataFrame:
    reader = spark.read
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Partitioned parquet sink — partition columns become directory keys so
    later reads prune by them."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    bucket_by: list[str],
    sort_by: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed parquet table sink (`bucketBy` + `saveAsTable` — bucketing
    metadata lives in the catalog, so it needs a table name, not a bare
    path; pass ``path`` to pin the files outside the warehouse dir).

    This is the co-located-join primitive at 100 TB: two tables bucketed
    into the same bucket count on the join key sort-merge-join with ZERO
    Exchange on either side (pinned in tests/test_sources.py), and
    aggregations keyed on the bucket columns skip their shuffle too.
    ``sort_by`` additionally orders rows within each bucket file so the
    merge phase streams without sorting.
    """
    writer = df.write.mode(mode).bucketBy(int(buckets), *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    if path:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def write_range_sorted(
    df: DataFrame,
    path: str,
    range_col: str,
    n_partitions: int,
    secondary_sort: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-layout parquet sink: `repartitionByRange` on ``range_col``
    (sampled disjoint boundaries) + `sortWithinPartitions`, so every
    output file covers a DISJOINT range of the column (boundary values
    excepted) and rows are ordered inside each file.

    Why it matters at 100 TB: parquet keeps min/max statistics per file
    and row group; with this layout a predicate like
    ``time_id BETWEEN a AND b`` skips every non-overlapping file at scan
    planning time — the temporal analogue of `write_bucketed`'s join
    co-location. Directory partitioning (`write_parquet(partition_by=...)`)
    prunes at directory granularity but explodes small files for
    high-cardinality keys; range layout keeps file count fixed
    (`n_partitions`) at any cardinality. ``secondary_sort`` orders within
    the range (e.g. unit_id) so downstream window chains read
    nearly-clustered data."""
    from pyspark.sql import functions as F

    out = df.repartitionByRange(int(n_partitions), F.col(range_col))
    out = out.sortWithinPartitions(range_col, *(secondary_sort or []))
    out.write.mode(mode).parquet(path)


def read_stream_parquet(
    spark: SparkSession, path: str, schema: StructType | str, **options
) -> DataFrame:
    """Streaming parquet source (schema mandatory for streams)."""
    reader = spark.readStream.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.parquet(path)


def zorder_key_sql(cols: list[str], bits: int = 16, dialect: str = "spark") -> str:
    """Morton/Z-order interleave of ``len(cols)`` integer columns into one
    BIGINT sort key: bit b of column j lands at position b*k + j. Values
    are masked to ``bits`` low bits first (caller maps/normalizes into
    [0, 2^bits)). One shared generator emits the Spark and DuckDB
    spellings of the SAME integer formula (shiftleft/shiftright function
    calls vs << >> operators), so the driver gate is engine-exact.
    """
    k = len(cols)
    if k < 1:
        raise ValueError("zorder_key_sql needs at least one column")
    if bits * k > 62:
        raise ValueError(f"bits*k = {bits * k} exceeds 62 (BIGINT sign-safe)")
    mask = (1 << bits) - 1
    terms = []
    for j, c in enumerate(cols):
        for b in range(bits):
            tgt = b * k + j
            if dialect == "spark":
                terms.append(
                    f"shiftleft(shiftright(CAST({c} AS BIGINT) & {mask}, {b}) & 1, {tgt})"
                )
            else:
                terms.append(
                    f"((((CAST({c} AS BIGINT) & {mask}) >> {b}) & 1) << {tgt})"
                )
    return "(" + " + ".join(terms) + ")"


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = 16, out: str = "zorder"
) -> DataFrame:
    """Attach the Morton key as a column (see zorder_key_sql)."""
    from pyspark.sql import functions as F

    return df.withColumn(out, F.expr(zorder_key_sql(cols, bits, "spark")))


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    n_partitions: int = 32,
    mode: str = "overwrite",
) -> None:
    """Multi-dimensional data-skipping layout: range-partition + sort the
    corpus by the Morton key of ``cols``, so parquet min/max file stats
    are simultaneously tight on EVERY interleaved dimension — a filter on
    any of the z-ordered columns skips most files at planning time, where
    a single-column range sort only helps its one column. This is the
    standard Delta/Iceberg OPTIMIZE ZORDER layout, built from plain
    repartitionByRange + sortWithinPartitions — no table format needed.
    The key column is dropped from the files (recomputable)."""
    keyed = zorder_key(df, cols, bits, out="__z")
    out = keyed.repartitionByRange(int(n_partitions), "__z")
    out = out.sortWithinPartitions("__z").drop("__z")
    out.write.mode(mode).parquet(path)


def read_parquet_pruned(
    spark: SparkSession,
    path: str,
    col: str,
    lo=None,
    hi=None,
    stats: dict | None = None,
) -> DataFrame:
    """File-skipping reader driven by parquet footer statistics: list the
    dataset's files, read each footer's per-column min/max (driver-side,
    pyarrow), DROP every file whose [min, max] cannot intersect
    [lo, hi], and hand Spark only the survivors — then apply the row-level
    filter on top (footer pruning is necessary-not-sufficient).

    This is the manifest-pruning half of a table format (Delta/Iceberg
    data skipping) from plain parquet + pyarrow; it composes with
    `write_range_sorted` (tight single-column ranges) and
    `write_zordered` (simultaneously tight multi-dim ranges). At cluster
    scale a catalog's manifest replaces the footer reads — the footer
    loop here is O(files) driver work, the same order as the file listing
    Spark already performs; Spark's own row-group pruning then works
    within the surviving files.

    Pass a dict as ``stats`` to receive {"files_total", "files_scanned"}.
    """
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F

    files = sorted(
        f
        for f in _glob.glob(_os.path.join(path, "*.parquet"))
        + _glob.glob(_os.path.join(path, "part-*"))
        if f.endswith(".parquet")
    )
    files = sorted(set(files))
    keep = []
    for f in files:
        md = _pq.ParquetFile(f).metadata
        fmin = fmax = None
        have = True
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            cstat = None
            for ci in range(row_group.num_columns):
                c = row_group.column(ci)
                if c.path_in_schema == col:
                    cstat = c.statistics
                    break
            if cstat is None or not cstat.has_min_max:
                have = False
                break
            fmin = cstat.min if fmin is None else min(fmin, cstat.min)
            fmax = cstat.max if fmax is None else max(fmax, cstat.max)
        if not have:
            keep.append(f)  # no stats -> cannot prune, must scan
            continue
        if (lo is not None and fmax < lo) or (hi is not None and fmin > hi):
            continue
        keep.append(f)
    if stats is not None:
        stats["files_total"] = len(files)
        stats["files_scanned"] = len(keep)
    if not keep:
        # preserve schema: read the dataset lazily and filter to nothing
        empty = spark.read.parquet(path).filter(F.lit(False))
        return empty
    df = spark.read.parquet(*keep)
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (F.col(col) >= F.lit(lo))
    if hi is not None:
        cond = cond & (F.col(col) <= F.lit(hi))
    return df.filter(cond)
