"""Sinks.

Reference surface covered (SURVEY.md §2.1):
- S4/S6 drop-and-recreate + bulk COPY (ingest.py:32-47, transform.py:42-77)
  -> ``write_parquet`` with overwrite semantics; distributed, spillable,
  no single-node 2x memory buffer.
- S7/S8 Google-Sheets-style bounded export (publish.py:41-97) ->
  ``bounded_export``: the engine's contract ends at limit + batched
  Arrow record batches; the network client is the caller's adapter.  NaN/Inf
  scrubbing (publish.py:50-57) happens at this boundary only — in-engine
  data uses real SQL NULLs.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .readers import read_parquet

if TYPE_CHECKING:
    import pyarrow as pa


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Overwrite-by-default parquet sink (the reference's drop-and-recreate
    semantics, transform.py:58).  ``partition_by`` gives partition pruning
    for downstream scans at scale."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    **options: str,
) -> None:
    """CSV sink (the reference's sheet-feed boundary format; pairs with
    readers.read_csv for the S1 scan).  Overwrite-by-default, header row,
    Spark's shortest-roundtrip double formatting — a written double parses
    back to the identical bits, so CSV layers are value-faithful."""
    writer = df.write.mode(mode).option("header", str(header).lower())
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.csv(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed managed table (``bucketBy`` + ``saveAsTable``): rows are
    hash-partitioned into ``n_buckets`` files per partition BY KEY at
    write time, so a later join or aggregation on the bucket key reads
    co-located data and skips the shuffle entirely — the classic
    pre-shuffle trade for fact tables that are joined on the same key
    every day at 100 TB (pay the shuffle once at ingest, never again).

    ``sort_cols`` additionally sorts within buckets, letting sort-merge
    joins skip their sort.  Requires a metastore-backed table (bucket
    metadata lives in the catalog, not the parquet files).  ``path``
    makes the table external (data at an explicit location instead of
    the session warehouse dir)."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def write_json(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    **options: str,
) -> None:
    """JSON-lines sink (the interchange format most external tooling in a
    data-pipeline stack consumes).  Overwrite-by-default; doubles use
    shortest-roundtrip formatting so a JSON layer is value-faithful."""
    writer = df.write.mode(mode)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.json(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "overwrite",
    batchsize: int = 10_000,
    num_partitions: int | None = None,
    **options: str,
) -> None:
    """JDBC bulk-write adapter (reference S6: drop-and-recreate + COPY
    into Postgres, ingest.py:73-86, transform.py:42-77).

    ``batchsize`` rows per INSERT batch; ``num_partitions`` caps the number
    of concurrent connections (each write partition opens one).  Overwrite
    mode reproduces the reference's drop-and-recreate semantics.  This
    sandbox ships no JDBC driver or database, so the adapter is exercised
    for construction only (tests assert the writer wiring), not a live
    round trip."""
    src = df.coalesce(num_partitions) if num_partitions is not None else df
    writer = (
        src.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .mode(mode)
    )
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()


def scrub_non_finite(df: DataFrame) -> DataFrame:
    """Sink-side scrub of NaN/±Inf to NULL on float columns (reference S8,
    publish.py:50-57).  Engine-internal data never needs this — Spark has
    real NULLs — so it lives at the export boundary."""
    cols = []
    for field in df.schema.fields:
        c = F.col(field.name)
        if isinstance(field.dataType, (T.DoubleType, T.FloatType)):
            c = F.when(F.isnan(c) | c.isin(float("inf"), float("-inf")), None).otherwise(
                c
            ).alias(field.name)
        else:
            c = c.alias(field.name)
        cols.append(c)
    return df.select(*cols)


def bounded_export(
    df: DataFrame,
    consume_batch: Callable[[pa.RecordBatch], None],
    *,
    max_rows: int = 50_000,
    batch_size: int = 50_000,
) -> int:
    """Bounded, batched export to an external API client (reference S7:
    LIMIT 50000 at publish.py:17,122-128 + 50k-row chunked append_rows at
    publish.py:71,85-90).

    The first ``max_rows`` rows, NaN/±Inf scrubbed, are collected once as
    Arrow and handed to ``consume_batch`` as ``pyarrow.RecordBatch``es of
    ``batch_size`` rows (the last one holds the remainder) — columnar, with
    no Python object per row.  Only the bounded slice is ever resident on
    the driver (you export a bounded slice, never a collect of
    everything), so ``max_rows`` must be a positive row count.
    Returns the number of rows exported.
    """
    if max_rows is None or max_rows < 1:
        raise ValueError(f"max_rows must be a positive row count, got {max_rows!r}")
    table = scrub_non_finite(df.limit(max_rows)).toArrow()
    # one chunk first: Spark's Arrow collect arrives in maxRecordsPerBatch
    # chunks, and to_batches never merges across chunk boundaries
    for batch in table.combine_chunks().to_batches(max_chunksize=batch_size):
        consume_batch(batch)
    return table.num_rows


def layer_parquet_bytes(spark, path: str) -> int:
    """Total bytes of the ``.parquet`` data files under ``path`` (recursive
    over partition subdirectories), on any Hadoop filesystem
    (``snapshots.parquet_file_sizes``) — a local walk would silently
    collapse compaction sizing to one output file on a remote URI, the
    failure mode this helper exists to prevent."""
    from .snapshots import parquet_file_sizes

    return sum(parquet_file_sizes(spark, path).values())


def compact_parquet_layer(
    spark,
    src_path: str,
    dst_path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction (the table-maintenance job every long-lived
    layer needs): rewrite ``src_path`` into ``dst_path`` with file count
    sized from the layer's actual bytes, never its (possibly thousands-
    deep) input file count.

    Streaming ingest and fine-grained partition writes both leak small
    files; at 100 TB a scan of 10^6 tiny files is dominated by open/footer
    costs, so periodic compaction to ~128 MB files is standard hygiene.
    Byte sizing goes through the Hadoop FileSystem API
    (``layer_parquet_bytes``) so it is substrate-portable — hdfs:// and
    s3a:// layers size identically to local ones.  Returns the number of
    files written, listed the same way: ``coalesce`` cannot raise the
    scan's partition count, so that can be fewer than the sized count.
    Write-then-swap is the caller's policy; writing to a distinct
    ``dst_path`` keeps the operation atomic at the directory level (no
    reader ever sees a half-compacted layer).
    """
    import math

    from .snapshots import parquet_file_sizes

    df = read_parquet(spark, src_path)
    total = layer_parquet_bytes(spark, src_path)
    n_files = max(1, math.ceil(total / target_file_bytes))
    # coalesce, not repartition: compaction must not pay a shuffle
    df.coalesce(n_files).write.mode("overwrite").parquet(dst_path)
    return len(parquet_file_sizes(spark, dst_path))


def observed_write(
    df: DataFrame,
    path: str,
    *,
    metrics: list | None = None,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> dict:
    """Parquet write that collects data-quality metrics IN THE SAME SCAN
    via ``df.observe`` (the reference's printed row-count checkpoints,
    ingest.py:65 / transform.py:116-121, done Spark-first).

    The metrics ride the write job's tasks as accumulators, so a QC
    report on a 100 TB write costs zero extra scans — where a naive
    ``df.count(); df.write...`` pattern reads everything twice.
    ``metrics`` are aggregate Columns (no DISTINCT aggregates — an
    ``observe`` restriction; use ``approx_count_distinct`` instead).
    Returns the observed metric dict.
    """
    from pyspark.sql import Observation

    obs = Observation()
    exprs = metrics if metrics else [F.count(F.lit(1)).alias("n_rows")]
    write_parquet(df.observe(obs, *exprs), path, mode=mode, partition_by=partition_by)
    return obs.get
