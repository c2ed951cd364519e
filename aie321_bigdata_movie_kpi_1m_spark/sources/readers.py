"""Sources.

Reference surface covered (SURVEY.md §2.1):
- S1 CSV scan (ingest.py:64) -> ``read_csv`` with an explicit schema
  (never inference: nondeterministic at 100 TB).
- S2/S3 JDBC scans (transform.py:91-92, publish.py:122-128) ->
  ``read_jdbc``; LIMIT pushdown is expressed as ``df.limit(n)`` and
  Catalyst pushes it to the source.
- Parquet is the canonical at-rest format between layers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schemas import STAR_SCHEMAS


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """CSV scan with a declared schema (reference S1, ingest.py:64).

    ``mode=PERMISSIVE`` keeps the reference's schema-on-read tolerance:
    malformed cells surface as nulls and are handled by the cleaning
    layer's try_cast, not by failing the scan.
    """
    reader = (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def read_parquet(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Parquet scan; optional declared schema enables column pruning to be
    checked against a fixed contract.

    With no declared schema, a layer Spark wrote is read with the schema
    Spark stored in its footer (``_footer_schema``): the same schema
    Spark's inference returns, with no inference job.  Anything else falls
    back to Spark's inference."""
    reader = spark.read
    if schema is None:
        schema = _footer_schema(spark, path)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


#: footer key under which Spark's parquet writer stores the written
#: DataFrame's schema as JSON; ``ParquetFileFormat.readSchemaFromFooter``
#: reads the same key
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
_SUMMARY_FILES = ("_metadata", "_common_metadata")
_GLOB_CHARS = set("{}[]*?\\")


def _spark_lists(name: str) -> bool:
    """Spark's listing filter (``InMemoryFileIndex.shouldFilterOutPathName``):
    hidden ``_``/``.`` names and in-flight copies are not part of a layer,
    except the parquet summary files."""
    if name.startswith(_SUMMARY_FILES):
        return True
    return not (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema Spark's inference would give ``path``, read from one
    parquet footer on the driver with no Spark job; None where the read
    must fall back to inference.

    With ``mergeSchema`` off, Spark infers from the first data file in
    path order and prefers the schema its writer stored under
    ``_SPARK_SCHEMA_KEY``; this reads that key from that file.  The stored
    fields keep the writer's nullability, and Spark makes a declared
    file-source schema nullable through structs, arrays and maps
    (``asNullable``) exactly as it does an inferred one.

    Falls back (None) for: a URI scheme other than ``file:`` (or a bare
    path on a non-local default filesystem), glob or escape characters,
    ``mergeSchema`` on, partition subdirectories, ``_metadata`` /
    ``_common_metadata`` summary files, no data file, an unreadable
    footer, or no stored key (files written by other engines).
    """
    import json
    import os
    from urllib.parse import urlparse

    if _GLOB_CHARS & set(path):
        return None
    uri = urlparse(path)
    if uri.scheme == "file":
        local = uri.path
    elif uri.scheme:
        return None
    else:
        default_fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
        if not (default_fs or "file:").startswith("file:"):
            return None
        local = path
    if spark.conf.get("spark.sql.parquet.mergeSchema", "false").lower() == "true":
        return None
    if os.path.isdir(local):
        names = sorted(n for n in os.listdir(local) if _spark_lists(n))
        if not names or any(
            n.startswith(_SUMMARY_FILES) or os.path.isdir(os.path.join(local, n))
            for n in names
        ):
            return None
        local = os.path.join(local, names[0])
    try:
        import pyarrow.parquet as pq

        stored = (pq.read_metadata(local).metadata or {}).get(_SPARK_SCHEMA_KEY)
        return T.StructType.fromJson(json.loads(stored)) if stored else None
    except (ImportError, OSError, ValueError):
        return None


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    **options: str,
) -> DataFrame:
    """JDBC source (reference S2/S3, transform.py:91-92).

    Unlike the reference's single-connection full-table pull, a
    partitioned JDBC read (partitionColumn/bounds/numPartitions) fans the
    scan across executors.  Filters/limits applied on the returned
    DataFrame are pushed down by Catalyst.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 32))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def _events_ts_unit(path: str) -> str:
    """Inspect the parquet footer and return the ``ts`` column's timestamp
    unit (``"ns"``, ``"us"``, ``"ms"``, ``"s"``).

    The testdata generator has shipped ``events.ts`` as both
    TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across rounds; hard-coding
    either unit silently scales every event timestamp 1000x when the file
    changes.  Reading the footer (a metadata-only operation, no row
    groups touched) makes the reader self-describing.

    Failure policy (deliberately narrow — a silent wrong-unit default is
    the exact bug class this guard exists for):
    - missing path / no part files -> "us" silently (optional input);
    - pyarrow unavailable -> "us" with a loud warning (the NANOS path
      would otherwise fail later with an opaque schema mismatch);
    - unreadable footer or mixed units across part files -> raise.

    For a directory, footers of up to 16 part files — evenly spaced
    through the sorted listing, always including first and last — are
    checked for unit agreement; an append-without-overwrite regeneration
    (old unit at one end of the sort order, new at the other) is caught,
    at bounded metadata cost even for a many-thousand-part layer.
    """
    import os
    import warnings

    try:
        import pyarrow.parquet as pq
    except ImportError:
        warnings.warn(
            "pyarrow unavailable: cannot read parquet footer for "
            f"{path}; assuming events.ts unit 'us'. A TIMESTAMP(NANOS) "
            "file would be misread — install pyarrow to restore the guard.",
            stacklevel=2,
        )
        return "us"

    targets = [path]
    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if not parts:
            return "us"
        if len(parts) <= 16:
            picks = parts
        else:
            idxs = {round(i * (len(parts) - 1) / 15) for i in range(16)}
            picks = [parts[i] for i in sorted(idxs)]
        targets = [os.path.join(path, p) for p in picks]
    elif not os.path.exists(path):
        return "us"

    units = set()
    for target in targets:
        field = pq.read_schema(target).field("ts")
        units.add(getattr(field.type, "unit", "us") or "us")
    if len(units) > 1:
        raise ValueError(
            f"mixed ts timestamp units across part files under {path}: "
            f"{sorted(units)} — the layer needs a rewrite to one unit"
        )
    return units.pop()


def load_star_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table with its declared schema.

    ``events.ts`` is canonically TimestampType.  TIMESTAMP(MICROS)/MILLIS
    files read directly; TIMESTAMP(NANOS) files (which Spark's parquet
    reader rejects) are detected from the footer and read as long
    nanoseconds (``spark.sql.legacy.parquet.nanosAsLong``), converted with
    integer division (ns epochs exceed 2^53, so float division would lose
    precision — truncation matches DuckDB's ns->us conversion).
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events" and _events_ts_unit(path) == "ns":
        from pyspark.sql import functions as F

        from ..schemas import EVENTS_NANOS_SCHEMA

        # set defensively at read time: the caller's session (e.g. the
        # driver's own) may not have been built by session.get_spark, and
        # without this a TIMESTAMP(NANOS) scan throws PARQUET_TYPE_ILLEGAL
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, path, EVENTS_NANOS_SCHEMA)
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return read_parquet(spark, path, STAR_SCHEMAS.get(name))
