"""Source/sink contract tests (SURVEY.md §2.1): CSV scan with declared
schema and coerce-to-null tolerance (S1), parquet layer round-trip
(S4/S6), bounded batched export with non-finite scrub (S3/S7/S8).
"""

from __future__ import annotations

import pytest

import math
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from aie321_bigdata_movie_kpi_1m_spark.sources.readers import read_csv, read_parquet
from aie321_bigdata_movie_kpi_1m_spark.sources.sinks import (
    bounded_export,
    scrub_non_finite,
    write_parquet,
)

CSV_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("revenue", T.DoubleType()),
    ]
)


def test_csv_scan_declared_schema_permissive(spark, tmp_path):
    # malformed numeric cells surface as NULL (the reference's
    # schema-on-read tolerance, ingest.py:64), never as a failed scan
    p = tmp_path / "movies.csv"
    p.write_text("id,title,revenue\n1,Alpha,10.5\n2,Beta,garbage\n,Gamma,3.0\n")
    df = read_csv(spark, str(p), CSV_SCHEMA)
    rows = {r["title"]: (r["id"], r["revenue"]) for r in df.collect()}
    assert rows["Alpha"] == (1, 10.5)
    assert rows["Beta"][1] is None  # 'garbage' -> null, row survives
    assert rows["Gamma"][0] is None  # empty id -> null


def test_parquet_layer_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    write_parquet(df, str(tmp_path / "layer"))
    back = read_parquet(spark, str(tmp_path / "layer"))
    assert {(r["k"], r["v"]) for r in back.collect()} == {(1, "a"), (2, "b")}
    # overwrite semantics: second write replaces, not appends
    write_parquet(df.limit(1), str(tmp_path / "layer"))
    assert read_parquet(spark, str(tmp_path / "layer")).count() == 1


def test_footer_schema_equals_inferred_schema_without_a_job(spark, sf_dir, tmp_path):
    import time

    from aie321_bigdata_movie_kpi_1m_spark.plans.movie_view import movies_raw_from_star
    from aie321_bigdata_movie_kpi_1m_spark.plans.pipeline import run_movie_pipeline
    from aie321_bigdata_movie_kpi_1m_spark.sources.readers import _footer_schema

    out = str(tmp_path / "layers")
    write_parquet(movies_raw_from_star(spark, sf_dir), f"{out}/raw")
    run_movie_pipeline(spark, read_parquet(spark, f"{out}/raw"), out)
    nested = spark.range(0, 50, 1, 3).selectExpr(
        "id",
        "named_struct('x', id, 'ys', array(id), 'm', map('k', id)) AS s",
        "array(named_struct('v', double(id))) AS arr",
        "map(cast(id AS string), array(id)) AS m",
    ).withMetadata("id", {"comment": "key"})
    write_parquet(nested, f"{out}/nested")

    layers = ["raw", "movie_facts", "movie_genre_fact", "genre_average_revenue",
              "nested"]
    for name in layers:
        path = f"{out}/{name}"
        assert _footer_schema(spark, path) is not None, name
        # json() carries nullability at every depth and field metadata
        assert (read_parquet(spark, path).schema.json()
                == spark.read.parquet(path).schema.json()), name
    assert _footer_schema(spark, f"file://{out}/nested") is not None

    # job-free: a footer read under one job group, then an inferred read
    # under another; once the second group's job is visible, a job of the
    # first (posted earlier on the same listener queue) would be too
    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()
    try:
        sc.setJobGroup("footer-schema-read", "footer")
        read_parquet(spark, f"{out}/movie_facts").schema
        sc.setJobGroup("footer-schema-infer", "infer")
        spark.read.parquet(f"{out}/movie_facts").schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 10
    while not tracker.getJobIdsForGroup("footer-schema-infer"):
        assert time.monotonic() < deadline, "inference job never observed"
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup("footer-schema-read") == []


def _group_jobs(spark, group, fn):
    """Run ``fn`` under Spark job group ``group``; return its result and
    the call site of every stage of every job it ran."""
    import time

    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()
    try:
        sc.setJobGroup(group, group)
        out = fn()
        sc.setJobGroup(f"{group}-after", "marker")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the marker job was posted after every job of the group: once it is
    # visible, so is each of theirs
    deadline = time.monotonic() + 10
    while not tracker.getJobIdsForGroup(f"{group}-after"):
        assert time.monotonic() < deadline, "marker job never observed"
        time.sleep(0.05)
    jobs = tracker.getJobIdsForGroup(group)
    sites = [
        [tracker.getStageInfo(st).name for st in tracker.getJobInfo(j).stageIds]
        for j in jobs
    ]
    return out, sites


def _py4j_parquet_jobs(sites) -> int:
    """Jobs started from the py4j ``parquet`` entry: a parquet write, or
    the schema-inference job of a read given no schema."""
    return sum(
        any(s.startswith("parquet at ") for s in job)
        for job in sites
    )


@pytest.mark.parametrize("rereader", ["file_stats"])
def test_commit_rereads_need_no_schema_job(spark, tmp_path, rereader):
    """A commit's one scan of the staged delta reads it with the schema
    in its parquet footer: every Spark job it runs is its own aggregate
    (called from snapshots.py), with no schema-inference job (called
    from the py4j ``parquet`` entry) in front of it."""
    import uuid

    from aie321_bigdata_movie_kpi_1m_spark.sources import snapshots as snap

    data_dir = str(tmp_path / "delta")
    spark.range(0, 100, 1, 2).selectExpr("id AS k", "id % 7 AS v").write.parquet(
        data_dir
    )
    files = sorted(snap.parquet_file_sizes(spark, data_dir))
    _, sites = _group_jobs(
        spark,
        f"commit-reread-{rereader}-{uuid.uuid4().hex[:8]}",
        lambda: snap._file_stats(
            spark, data_dir, files, ["k"], bloom=("k", 64, 2),
            checks={"nonneg": "k >= 0"},
        ),
    )
    call_sites = [s for job in sites for s in job]
    assert call_sites
    assert all("snapshots.py" in c for c in call_sites), call_sites


def test_footer_schema_falls_back_to_inference(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aie321_bigdata_movie_kpi_1m_spark.sources.readers import _footer_schema

    parted = str(tmp_path / "parted")
    spark.range(0, 20).selectExpr("id", "id % 2 AS p").write.partitionBy("p").parquet(
        parted
    )
    foreign = tmp_path / "foreign"
    foreign.mkdir()
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int32()), "v": ["a", None]}),
                   foreign / "part-0.parquet")
    for path in (parted, str(foreign)):
        assert _footer_schema(spark, path) is None
        assert (read_parquet(spark, path).schema.json()
                == spark.read.parquet(path).schema.json())
    # remote URIs and globs are Spark's to resolve: nothing is opened here
    for path in ("hdfs://namenode:8020/layers/movie_facts",
                 "s3a://bucket/layers/movie_facts", f"{parted}/p=*"):
        assert _footer_schema(spark, path) is None


def test_scrub_non_finite_nulls_only_float_columns(spark):
    df = spark.createDataFrame(
        [(1, float("nan"), "x"), (2, float("inf"), "y"), (3, 1.5, "z")],
        "k long, m double, s string",
    )
    got = {r["k"]: (r["m"], r["s"]) for r in scrub_non_finite(df).collect()}
    assert got[1][0] is None and got[2][0] is None and got[3][0] == 1.5
    assert got[1][1] == "x"  # non-float columns untouched


def test_bounded_export_limits_and_batches(spark):
    df = spark.createDataFrame([(i, float(i)) for i in range(25)], "k long, v double")
    batches: list = []
    n = bounded_export(df, batches.append, max_rows=10, batch_size=4)
    assert n == 10
    assert [len(b) for b in batches] == [4, 4, 2]
    exported = {row["k"] for b in batches for row in b.to_pylist()}
    assert len(exported) == 10


def _bits(value):
    """A value with every double replaced by its IEEE-754 bit pattern, so
    equality is bit-for-bit (NaN, -0.0) rather than numeric."""
    import struct

    if isinstance(value, float):
        return struct.pack("<d", value)
    if isinstance(value, (list, tuple)):
        return [_bits(v) for v in value]
    return value


def test_bounded_export_arrow_batches_match_row_path(spark):
    # > 10k rows over 4 partitions, so Spark's Arrow collect arrives in
    # several 10k-row chunks that the export must re-cut to batch_size
    df = spark.range(0, 12_500, 1, 4).selectExpr(
        "id",
        "CASE id % 7 WHEN 0 THEN double('NaN') WHEN 1 THEN double('inf') "
        "WHEN 2 THEN double('-inf') WHEN 3 THEN CAST(NULL AS double) "
        "WHEN 4 THEN -0.0D ELSE double(id) / 3 END AS v",
        "CAST(double(id) / 7 AS float) AS f",
        "IF(id % 5 = 0, NULL, concat('t', id)) AS s",
        "array(id, id * 2) AS a",
        "array(double(id) / 3, double('NaN')) AS dv",
    )
    batches: list = []
    n = bounded_export(df, batches.append, max_rows=11_000, batch_size=3_000)
    assert n == 11_000
    assert [b.num_rows for b in batches] == [3_000, 3_000, 3_000, 2_000]
    assert all(b.schema.names == df.columns for b in batches)

    want = [_bits(list(r)) for r in scrub_non_finite(df.limit(11_000)).collect()]
    got = [_bits([row[c] for c in df.columns])
           for b in batches for row in b.to_pylist()]
    assert got == want
    # the scrub held at the Arrow boundary: no top-level NaN/Inf survives
    assert not any(
        isinstance(row["v"], float) and not math.isfinite(row["v"])
        for b in batches for row in b.to_pylist()
    )

    for bad in (None, 0):
        with pytest.raises(ValueError, match="max_rows"):
            bounded_export(df, batches.append, max_rows=bad)


def test_partitioned_write_enables_partition_pruning(spark, tmp_path):
    import io
    from contextlib import redirect_stdout

    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3]) for i in range(90)], "k long, part string"
    )
    write_parquet(df, str(tmp_path / "bypart"), partition_by=["part"])
    back = read_parquet(spark, str(tmp_path / "bypart")).filter("part = 'a'")
    assert back.count() == 30
    buf = io.StringIO()
    with redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    # the filter prunes directories at planning time, not rows at runtime
    assert "PartitionFilters" in plan and "part" in plan.split("PartitionFilters", 1)[1].splitlines()[0]


def test_csv_write_read_roundtrip_preserves_doubles(spark, tmp_path):
    import pytest

    from aie321_bigdata_movie_kpi_1m_spark.sources.sinks import write_csv

    rows = [(1, "a,b \"quoted\"", 0.1 + 0.2), (2, None, -1.5e-7), (3, "c", None)]
    df = spark.createDataFrame(rows, CSV_SCHEMA)
    write_csv(df, str(tmp_path / "csv_layer"), nullValue="\\N")
    back = read_csv(
        spark, str(tmp_path / "csv_layer"), CSV_SCHEMA, nullValue="\\N"
    )
    # bit-exact doubles (shortest-roundtrip repr), NULLs distinguished
    # from empty strings by the sentinel, quoting survives commas/quotes
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}


def test_write_jdbc_adapter_wiring(spark):
    import pytest

    from aie321_bigdata_movie_kpi_1m_spark.sources.sinks import write_jdbc

    # no JDBC driver ships in this sandbox: the adapter must build the
    # full writer (url/dbtable/batchsize/mode) and fail only at driver
    # resolution, proving the wiring reaches Spark's JDBC layer
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    with pytest.raises(Exception, match="(?i)driver|jdbc"):
        write_jdbc(
            df,
            "jdbc:postgresql://localhost:5432/nope",
            "t",
            batchsize=500,
            num_partitions=1,
        )


def test_parquet_schema_evolution_merge(spark, tmp_path):
    # schema evolution across layer batches: an appended batch adds a
    # column; mergeSchema unifies, old rows read NULL for the new column
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(p)
    spark.createDataFrame(
        [(2, "b", 9.5)], "k long, v string, score double"
    ).write.mode("append").parquet(p)
    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"k", "v", "score"}
    rows = {r["k"]: (r["v"], r["score"]) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


def test_compact_parquet_layer(spark, tmp_path):
    # 40 tiny files -> one right-sized file, data identical, no shuffle
    from aie321_bigdata_movie_kpi_1m_spark.sources.sinks import (
        compact_parquet_layer,
    )

    src, dst = str(tmp_path / "small"), str(tmp_path / "compact")
    spark.range(0, 4000).repartition(40).write.parquet(src)
    import glob

    assert len(glob.glob(f"{src}/*.parquet")) == 40
    n = compact_parquet_layer(spark, src, dst, target_file_bytes=1 << 30)
    assert n == 1
    assert len(glob.glob(f"{dst}/*.parquet")) == 1
    got = sorted(r["id"] for r in spark.read.parquet(dst).collect())
    assert got == list(range(4000))


def test_compact_parquet_layer_uri_scheme(spark, tmp_path):
    # sizing must work against a path WITH a URI scheme (the hdfs://s3a://
    # shape): os.walk would see zero bytes and emit 1 file regardless of
    # target size; the Hadoop FS listing sizes it correctly
    import glob
    import os

    from aie321_bigdata_movie_kpi_1m_spark.sources.sinks import (
        compact_parquet_layer,
        layer_parquet_bytes,
    )

    src, dst = str(tmp_path / "small"), str(tmp_path / "compact")
    spark.range(0, 40_000).repartition(40).write.parquet(src)

    local_bytes = sum(
        os.path.getsize(f) for f in glob.glob(f"{src}/*.parquet")
    )
    assert layer_parquet_bytes(spark, f"file://{src}") == local_bytes

    # pick a target that forces >1 output file iff bytes were actually seen
    target = max(1, local_bytes // 4)
    n = compact_parquet_layer(
        spark, f"file://{src}", f"file://{dst}", target_file_bytes=target
    )
    assert n >= 2  # os.walk on the URI would have yielded n == 1
    assert len(glob.glob(f"{dst}/*.parquet")) == n
    assert spark.read.parquet(dst).count() == 40_000


def test_events_ts_unit_detects_and_rejects_mixed(tmp_path):
    # footer-based unit detection: agreement across parts -> unit;
    # a mixed-unit layer (append-without-overwrite regeneration) -> raise
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from aie321_bigdata_movie_kpi_1m_spark.sources.readers import _events_ts_unit

    d = tmp_path / "events.parquet"
    d.mkdir()

    def part(name, unit):
        tbl = pa.table({"ts": pa.array([1_000_000], type=pa.timestamp(unit))})
        pq.write_table(tbl, str(d / name))

    part("part-000.parquet", "us")
    part("part-001.parquet", "us")
    assert _events_ts_unit(str(d)) == "us"

    part("part-002.parquet", "ns")  # drifted regeneration appends ns parts
    with pytest.raises(ValueError, match="mixed ts"):
        _events_ts_unit(str(d))

    assert _events_ts_unit(str(tmp_path / "absent.parquet")) == "us"


def test_layer_parquet_bytes_partitioned_layer(spark, tmp_path):
    # recursive listing must descend into partition subdirectories
    import glob
    import os

    from aie321_bigdata_movie_kpi_1m_spark.sources.sinks import layer_parquet_bytes

    src = str(tmp_path / "parted")
    spark.range(0, 1000).withColumnRenamed("id", "k").selectExpr(
        "k", "k % 4 as p"
    ).write.partitionBy("p").parquet(src)
    local_bytes = sum(
        os.path.getsize(f)
        for f in glob.glob(f"{src}/**/*.parquet", recursive=True)
    )
    assert local_bytes > 0
    assert layer_parquet_bytes(spark, src) == local_bytes


class TestChunkedCsvDataSource:
    """Python DataSource connector (sources/pyds.py): roundtrip, NULLs,
    stats-based chunk pruning, type gate."""

    def _register(self, spark):
        from aie321_bigdata_movie_kpi_1m_spark.session import (
            ensure_package_on_workers,
        )
        from aie321_bigdata_movie_kpi_1m_spark.sources.pyds import (
            register_chunked_csv,
        )

        ensure_package_on_workers(spark)
        register_chunked_csv(spark)

    @pytest.mark.slow
    def test_roundtrip_exact_and_chunk_cap(self, spark, tmp_path):
        import json

        self._register(spark)
        path = str(tmp_path / "layer")
        df = spark.range(0, 5000).selectExpr(
            "id AS k", "CAST(id AS DOUBLE) / 7 AS x",
            "concat('s', id) AS s", "id % 2 = 0 AS flag"
        )
        (df.repartition(3).write.format("chunked_csv").mode("overwrite")
            .option("path", path).option("chunk_rows", "800")
            .option("stats_col", "k").save())
        man = json.load(open(f"{path}/manifest.json"))
        assert sum(f["rows"] for f in man["files"]) == 5000
        assert all(f["rows"] <= 800 for f in man["files"])
        back = spark.read.format("chunked_csv").option("path", path).load()
        assert back.schema == df.schema
        assert back.exceptAll(df).count() == 0
        assert df.exceptAll(back).count() == 0

    @pytest.mark.slow
    def test_append_mode_keeps_existing_chunks(self, spark, tmp_path):
        """mode('append') must MERGE the manifest: the old commit()
        rewrote it with only the new job's files, silently dropping every
        previously written row from reads."""
        import pytest

        self._register(spark)
        path = str(tmp_path / "append_layer")
        mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
            "id AS k", "CAST(id AS DOUBLE) AS x"
        )
        for lo, hi in [(0, 100), (100, 250)]:
            (mk(lo, hi).write.format("chunked_csv").mode("append")
                .option("path", path).option("stats_col", "k").save())
        back = spark.read.format("chunked_csv").option("path", path).load()
        assert back.count() == 250
        assert sorted(r["k"] for r in back.collect()) == list(range(250))
        # append with a different schema must refuse, not corrupt the layer
        bad = spark.range(5).selectExpr("id AS other", "id AS more")
        with pytest.raises(Exception, match="schema"):
            (bad.write.format("chunked_csv").mode("append")
                .option("path", path).save())
        # overwrite still replaces wholesale
        (mk(0, 10).write.format("chunked_csv").mode("overwrite")
            .option("path", path).option("stats_col", "k").save())
        assert spark.read.format("chunked_csv").option("path", path).load().count() == 10

    def test_nulls_survive(self, spark, tmp_path):
        self._register(spark)
        path = str(tmp_path / "nulls")
        rows = [(1, None, "x"), (2, 5.5, None), (3, 0.0, "")]
        df = spark.createDataFrame(rows, "k long, d double, s string")
        df.write.format("chunked_csv").mode("overwrite").option(
            "path", path
        ).save()
        back = spark.read.format("chunked_csv").option("path", path).load()
        assert sorted(map(tuple, back.collect())) == sorted(rows)

    def test_pushed_filter_prunes_chunks_but_not_rows(self, spark, tmp_path):
        from pyspark.sql import functions as F
        from pyspark.sql.datasource import LessThanOrEqual

        from aie321_bigdata_movie_kpi_1m_spark.sources.pyds import (
            _ChunkedCsvReader,
        )

        self._register(spark)
        path = str(tmp_path / "pruned")
        df = spark.range(0, 8000).selectExpr("id AS k", "id * 2 AS v")
        # range-partitioned on k -> disjoint chunk min/max spans
        (df.repartitionByRange(4, "k").write.format("chunked_csv")
            .mode("overwrite").option("path", path)
            .option("chunk_rows", "1000").option("stats_col", "k").save())
        back = spark.read.format("chunked_csv").option("path", path).load()
        got = back.filter(F.col("k") <= 1500).agg(
            F.count(F.lit(1)), F.sum("v")
        ).collect()[0]
        assert tuple(got) == (1501, 2 * 1500 * 1501 // 2)
        # driver-side pruning: the pushed predicate must drop chunks
        r = _ChunkedCsvReader(path, back.schema)
        n_all = len(r.partitions())
        r.pushFilters([LessThanOrEqual(("k",), 1500)])
        assert 0 < len(r.partitions()) < n_all

    def test_chunk_pruning_follows_shared_rule_set(self, tmp_path):
        """Chunk pruning is sources/pruning.py's rule set, no Spark
        needed: an all-NULL chunk ([None, None]) is skipped by any
        pushed filter, IN lists prune, an unorderable bound keeps."""
        import json

        from pyspark.sql.datasource import EqualTo, In

        from aie321_bigdata_movie_kpi_1m_spark.sources.pyds import (
            _ChunkedCsvReader,
        )

        schema = T.StructType([T.StructField("k", T.LongType())])
        chunks = [("a.csv", 0, 9), ("b.csv", 10, 19), ("null.csv", None, None)]
        (tmp_path / "manifest.json").write_text(
            json.dumps(
                {
                    "schema": schema.json(),
                    "stats_col": "k",
                    "files": [
                        {"name": n, "rows": 2, "min": lo, "max": hi}
                        for n, lo, hi in chunks
                    ],
                }
            )
        )
        r = _ChunkedCsvReader(str(tmp_path), schema)

        def planned(*filters):
            r.pushFilters(list(filters))
            return [os.path.basename(p.path) for p in r.partitions()]

        assert planned() == ["a.csv", "b.csv", "null.csv"]
        assert planned(EqualTo(("k",), 5)) == ["a.csv"]
        assert planned(In(("k",), (15, 30))) == ["b.csv"]
        assert planned(EqualTo(("k",), "x")) == ["a.csv", "b.csv"]

    def test_unsupported_type_fails_fast(self, spark, tmp_path):
        import pytest

        self._register(spark)
        df = spark.createDataFrame([(1, [1, 2])], "k long, arr array<long>")
        with pytest.raises(Exception, match="chunked_csv supports"):
            df.write.format("chunked_csv").mode("overwrite").option(
                "path", str(tmp_path / "bad")
            ).save()


class TestReplayParquetStreamSource:
    """Streaming Python DataSource (sources/pyds.py replay_parquet):
    micro-batched offset replay with exactly-once restart semantics."""

    def test_replays_in_batches_exactly_once(self, spark, sf_dir, tmp_path):
        # reader_mode=simple: the paced multi-batch replay contract
        # (driver-prefetch SimpleDataSourceStreamReader).  The default
        # partitioned reader is single-batch by design — a stateless
        # pacing cursor rewinds behind the checkpoint on restart and
        # re-serves committed rows (see _ReplayStreamReaderPartitioned).
        from aie321_bigdata_movie_kpi_1m_spark.sources.pyds import (
            register_replay_parquet,
        )

        register_replay_parquet(spark)
        stream = (
            spark.readStream.format("replay_parquet")
            .option("path", f"{sf_dir}/documents.parquet")
            .option("cols", "doc_id,lang")
            .option("batch_rows", "120")
            .option("reader_mode", "simple")
            .load()
        )
        batches: list = []
        q = (
            stream.writeStream.foreachBatch(
                lambda df, bid: batches.append((bid, df.count()))
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        # 500 docs at sf0.001 in 120-row batches -> >=4 micro-batches,
        # totals exactly once
        assert sum(n for _, n in batches) == 500
        assert len([n for _, n in batches if n > 0]) >= 4

        # restart over the same checkpoint: offsets are done, NO re-serve
        batches2: list = []
        q2 = (
            stream.writeStream.foreachBatch(
                lambda df, bid: batches2.append(df.count())
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q2.processAllAvailable()
        q2.stop()
        q2.awaitTermination()
        assert sum(batches2) == 0

    def test_partitioned_reader_executor_side_exactly_once(
        self, spark, sf_dir, tmp_path
    ):
        """Default (production) reader: partition-planned executor-side
        reads.  The whole bounded file arrives as one micro-batch split
        into tasks_per_batch range partitions; a checkpoint restart
        re-serves nothing (latestOffset is the stable true end, so the
        offset-equality check sees no new data)."""
        from aie321_bigdata_movie_kpi_1m_spark.sources.pyds import (
            register_replay_parquet,
        )

        register_replay_parquet(spark)
        stream = (
            spark.readStream.format("replay_parquet")
            .option("path", f"{sf_dir}/documents.parquet")
            .option("cols", "doc_id,lang")
            .option("tasks_per_batch", "4")
            .load()
        )
        batches: list = []
        q = (
            stream.writeStream.foreachBatch(
                lambda df, bid: batches.append((df.count(), df.rdd.getNumPartitions()))
            )
            .option("checkpointLocation", str(tmp_path / "ckpt_part"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        assert sum(n for n, _ in batches) == 500
        # the data batch fans out across executor tasks
        assert max(p for n, p in batches if n > 0) == 4

        batches2: list = []
        q2 = (
            stream.writeStream.foreachBatch(
                lambda df, bid: batches2.append(df.count())
            )
            .option("checkpointLocation", str(tmp_path / "ckpt_part"))
            .start()
        )
        q2.processAllAvailable()
        q2.stop()
        q2.awaitTermination()
        assert sum(batches2) == 0

    @pytest.mark.slow
    def test_partitioned_reader_task_retry_exactly_once(self, sf_dir, tmp_path):
        """Executor-side reads must be idempotent under TASK RETRY: fail
        one range partition's first attempt mid-batch and assert the
        retried task re-reads its exact range — total output stays
        exactly-once.  Needs task retries enabled (master local[4,2]),
        which the shared session fixture doesn't have, so this runs a
        fresh Spark in a subprocess."""
        import subprocess
        import sys
        import textwrap
        from pathlib import Path

        repo_root = str(Path(__file__).resolve().parents[1])
        marker = tmp_path / "injected"
        script = textwrap.dedent(
            f"""
            import os, sys
            sys.path.insert(0, {repo_root!r})
            from pyspark.sql import SparkSession

            spark = (
                SparkSession.builder.master("local[4,2]")
                .appName("flaky-replay")
                .config("spark.sql.shuffle.partitions", "4")
                .config("spark.ui.enabled", "false")
                .getOrCreate()
            )
            from aie321_bigdata_movie_kpi_1m_spark.session import (
                ensure_package_on_workers,
            )
            from aie321_bigdata_movie_kpi_1m_spark.sources import pyds

            ensure_package_on_workers(spark)
            MARKER = {str(marker)!r}

            class FlakyReader(pyds._ReplayStreamReaderPartitioned):
                def read(self, partition):
                    # first attempt at the file-head partition dies AFTER
                    # the failure marker lands, so the run proves both
                    # that the fault fired and that the retry healed it
                    if partition.lo == 0 and not os.path.exists(MARKER):
                        with open(MARKER, "w") as fh:
                            fh.write("injected")
                        raise RuntimeError("injected first-attempt failure")
                    yield from super().read(partition)

            class FlakyReplaySource(pyds.ReplayParquetDataSource):
                @classmethod
                def name(cls):
                    return "flaky_replay"

                def streamReader(self, schema):
                    return FlakyReader(dict(self.options))

            spark.dataSource.register(FlakyReplaySource)
            stream = (
                spark.readStream.format("flaky_replay")
                .option("path", {f"{sf_dir}/documents.parquet"!r})
                .option("cols", "doc_id,lang")
                .option("tasks_per_batch", "4")
                .load()
            )
            rows = []
            q = (
                stream.writeStream.foreachBatch(
                    lambda df, bid: rows.extend(r["doc_id"] for r in df.collect())
                )
                .option("checkpointLocation", {str(tmp_path / "ckpt_retry")!r})
                .start()
            )
            q.processAllAvailable()
            q.stop()
            q.awaitTermination()
            assert os.path.exists(MARKER), "fault injection never fired"
            assert len(rows) == 500, f"expected 500 rows once, got {{len(rows)}}"
            assert len(set(rows)) == 500, "duplicate rows after task retry"
            print("RETRY_EXACTLY_ONCE_OK")
            """
        )
        proc = subprocess.run(
            [sys.executable, "-c", script],
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        assert "RETRY_EXACTLY_ONCE_OK" in proc.stdout
        assert marker.exists()

    def test_schema_derived_from_footer(self, spark, sf_dir):
        from aie321_bigdata_movie_kpi_1m_spark.sources.pyds import (
            register_replay_parquet,
        )

        register_replay_parquet(spark)
        stream = (
            spark.readStream.format("replay_parquet")
            .option("path", f"{sf_dir}/documents.parquet")
            .option("cols", "doc_id,lang")
            .load()
        )
        assert stream.schema.simpleString() == "struct<doc_id:bigint,lang:string>"


def test_file_stream_rate_limit_batches(spark, tmp_path):
    # ingestion backpressure: maxFilesPerTrigger bounds each micro-batch,
    # so a backfill over many files cannot blow up executor memory — the
    # per-batch cap is the knob that keeps a 100 TB backfill incremental
    src = str(tmp_path / "files")
    for i in range(3):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    batches: list = []
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: batches.append(df.count())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(batches) == [10, 10, 10]  # one file per micro-batch


def test_csv_permissive_mode_captures_corrupt_rows(spark, tmp_path):
    # PERMISSIVE contract (ref ingest.py single-shot read_csv dies on bad
    # rows; the engine must instead quarantine them): malformed rows land
    # in _corrupt_record with NULL typed columns, clean rows parse
    p = tmp_path / "dirty.csv"
    p.write_text("1,alpha,2.5\nnot_an_int,beta,3.5\n3,gamma,oops\n")
    schema = "k long, name string, x double, _corrupt_record string"
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(str(p))
    )
    rows = df.collect()
    good = {r["k"]: (r["name"], r["x"]) for r in rows if r["_corrupt_record"] is None}
    bad = [r["_corrupt_record"] for r in rows if r["_corrupt_record"] is not None]
    assert good == {1: ("alpha", 2.5)}
    assert sorted(bad) == ["3,gamma,oops", "not_an_int,beta,3.5"]


def test_events_reader_handles_both_timestamp_units(spark, tmp_path):
    """The events reader must self-describe from the parquet footer: the
    testdata generator has shipped ts as TIMESTAMP(NANOS) and as
    TIMESTAMP(MICROS) across rounds, and hard-coding either unit scales
    every timestamp 1000x (the round-2 regression).  Current testdata is
    micros, so this fabricates a nanos file to keep the legacy fallback
    (nanosAsLong + div-1000) exercised."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aie321_bigdata_movie_kpi_1m_spark.sources.readers import (
        _events_ts_unit,
        load_star_table,
    )

    base_us = 1_700_000_000_000_000  # 2023-11-14T22:13:20 UTC in micros
    rows = {
        "event_id": [1, 2],
        "user_id": [10, 20],
        "event_type": ["view", "purchase"],
        "value": [1.5, 2.5],
        "props": ["{}", "{}"],
    }
    for unit, scale in (("us", 1), ("ns", 1000)):
        sf_dir = tmp_path / unit
        sf_dir.mkdir()
        table = pa.table(
            {
                "event_id": pa.array(rows["event_id"], pa.int64()),
                "ts": pa.array(
                    [base_us * scale, (base_us + 3_600_000_000) * scale],
                    pa.timestamp(unit),
                ),
                "user_id": pa.array(rows["user_id"], pa.int64()),
                "event_type": pa.array(rows["event_type"]),
                "value": pa.array(rows["value"], pa.float64()),
                "props": pa.array(rows["props"]),
            }
        )
        pq.write_table(table, str(sf_dir / "events.parquet"))
        assert _events_ts_unit(str(sf_dir / "events.parquet")) == unit
        df = load_star_table(spark, str(sf_dir), "events")
        assert df.schema["ts"].dataType.simpleString() == "timestamp"
        got = sorted(r["ts"] for r in df.select("ts").collect())
        # identical wall-clock instants regardless of storage unit
        assert [int(t.timestamp() * 1_000_000) for t in got] == [
            base_us,
            base_us + 3_600_000_000,
        ]


def test_declared_schemas_match_testdata_footers():
    """Testdata-drift canary: the driver REGENERATES the parquet tables
    between rounds (events.ts flipped nanos->micros in round 2).  This
    compares every declared StructType against the actual parquet
    footers so a generator-side type change fails ONE named test with
    the exact column, instead of surfacing as dozens of query
    mismatches.  events.ts is excluded from strictness: its unit is
    footer-detected at read time (see readers._events_ts_unit)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aie321_bigdata_movie_kpi_1m_spark.schemas import STAR_SCHEMAS, STAR_TABLES

    def spark_equiv(arrow_type) -> str:
        if pa.types.is_timestamp(arrow_type):
            return "timestamp"  # any unit: readers normalize
        if pa.types.is_large_string(arrow_type):
            return "string"
        if pa.types.is_list(arrow_type) or pa.types.is_large_list(arrow_type):
            return f"array<{spark_equiv(arrow_type.value_type)}>"
        return {
            "int64": "bigint",
            "int32": "int",
            "double": "double",
            "float": "float",
            "string": "string",
            "bool": "boolean",
        }.get(str(arrow_type), str(arrow_type))

    problems = []
    for table in STAR_TABLES:
        footer = pq.read_schema(f"/root/testdata/sf0.001/{table}.parquet")
        declared = {f.name: f.dataType.simpleString() for f in STAR_SCHEMAS[table].fields}
        actual = {f.name: spark_equiv(f.type) for f in footer}
        if set(declared) != set(actual):
            problems.append(f"{table}: columns {sorted(actual)} vs declared {sorted(declared)}")
            continue
        for name, want in declared.items():
            if actual[name] != want:
                problems.append(f"{table}.{name}: footer {actual[name]!r} vs declared {want!r}")
    assert not problems, "; ".join(problems)


def test_observed_write_single_scan_metrics(spark, tmp_path):
    # QC metrics collected during the write itself (df.observe): values
    # equal a separate aggregation, and the layer lands complete
    from pyspark.sql import functions as F

    from aie321_bigdata_movie_kpi_1m_spark.sources.sinks import observed_write

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, None, None), (3, "c", 1.5)],
        "id long, name string, score double",
    )
    got = observed_write(
        df,
        str(tmp_path / "observed"),
        metrics=[
            F.count(F.lit(1)).alias("n_rows"),
            F.count("name").alias("n_name"),
            F.sum("score").alias("score_sum"),
        ],
    )
    assert got == {"n_rows": 3, "n_name": 2, "score_sum": 6.5}
    assert spark.read.parquet(str(tmp_path / "observed")).count() == 3


# ---------------------------------------------------------------------------
# Snapshot-versioned layer (sources/snapshots.py)
# ---------------------------------------------------------------------------


class TestSnapshotLayer:
    def _base(self, spark):
        return spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "a")], "k long, seg string"
        )

    def test_commit_read_time_travel(self, spark, tmp_path):
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            read_snapshot,
            snapshot_versions,
        )

        path = str(tmp_path / "layer")
        assert snapshot_versions(spark, path) == []
        v1 = commit_snapshot(spark, self._base(spark), path)
        v2 = commit_snapshot(
            spark,
            spark.createDataFrame([(4, "c")], "k long, seg string"),
            path,
            mode="append",
        )
        assert (v1, v2) == (1, 2)
        # head = v2, pinned v1 unchanged after later commits
        assert sorted(r["k"] for r in read_snapshot(spark, path).collect()) == [
            1, 2, 3, 4,
        ]
        assert sorted(
            r["k"] for r in read_snapshot(spark, path, 1).collect()
        ) == [1, 2, 3]

    def test_append_reuses_previous_files(self, spark, tmp_path):
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            _manifest,
            commit_snapshot,
        )

        path = str(tmp_path / "layer")
        commit_snapshot(spark, self._base(spark), path)
        commit_snapshot(
            spark,
            spark.createDataFrame([(4, "c")], "k long, seg string"),
            path,
            mode="append",
        )
        m1, m2 = _manifest(spark, path, 1), _manifest(spark, path, 2)
        # O(delta) append: every v1 data file appears verbatim in v2's
        # manifest (no rewrite), plus at least one new file
        assert set(m1["files"]) < set(m2["files"])
        new = set(m2["files"]) - set(m1["files"])
        assert new and all("/data/v2-" in f for f in new)

    def test_commit_is_optimistic_concurrency(self, spark, tmp_path):
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            _write_text,
            commit_snapshot,
        )

        path = str(tmp_path / "layer")
        commit_snapshot(spark, self._base(spark), path)
        # a racing writer that lost must fail on the manifest commit,
        # never overwrite the committed version
        import pytest

        with pytest.raises(FileExistsError):
            _write_text(spark, f"{path}/_manifests/v1.json", "{}")
        # and the staged temp it wrote is cleaned up, not leaked
        import os

        leftovers = [
            n
            for n in os.listdir(f"{path}/_manifests")
            if ".tmp-" in n and not n.endswith(".crc")
        ]
        assert leftovers == []

    def test_read_missing_version_raises(self, spark, tmp_path):
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            read_snapshot,
        )
        import pytest

        path = str(tmp_path / "layer")
        with pytest.raises(FileNotFoundError):
            read_snapshot(spark, path)
        commit_snapshot(spark, self._base(spark), path)
        with pytest.raises(FileNotFoundError):
            read_snapshot(spark, path, 7)

    def test_change_feed_update_is_delete_plus_insert(self, spark, tmp_path):
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            snapshot_changes,
        )

        path = str(tmp_path / "layer")
        commit_snapshot(spark, self._base(spark), path)
        # v2: k=2 re-segmented (update), k=3 gone (delete), k=9 new
        commit_snapshot(
            spark,
            spark.createDataFrame(
                [(1, "a"), (2, "B"), (9, "z")], "k long, seg string"
            ),
            path,
        )
        rows = {
            (r["change_type"], r["k"], r["seg"])
            for r in snapshot_changes(spark, path, 1, 2).collect()
        }
        assert rows == {
            ("insert", 2, "B"),
            ("insert", 9, "z"),
            ("delete", 2, "b"),
            ("delete", 3, "a"),
        }

    def test_keyed_change_feed_classifies_update(self, spark, tmp_path):
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            snapshot_changes_keyed,
        )

        path = str(tmp_path / "layer")
        commit_snapshot(
            spark,
            spark.createDataFrame(
                [(1, "a"), (2, "b"), (3, None)], "k long, seg string"
            ),
            path,
        )
        # k=2 updated, k=3 NULL->NULL unchanged, k=4 inserted, k=1 kept
        commit_snapshot(
            spark,
            spark.createDataFrame(
                [(1, "a"), (2, "B"), (3, None), (4, "d")], "k long, seg string"
            ),
            path,
        )
        rows = {
            (r["k"], r["change_type"])
            for r in snapshot_changes_keyed(spark, path, 1, 2, ["k"]).collect()
        }
        assert rows == {(2, "update"), (4, "insert")}

    def test_vacuum_drops_old_versions_and_orphans(self, spark, tmp_path):
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            _list_parquet_files,
            commit_snapshot,
            read_snapshot,
            snapshot_versions,
            vacuum_snapshots,
        )

        path = str(tmp_path / "layer")
        commit_snapshot(spark, self._base(spark), path)  # v1 (overwritten)
        commit_snapshot(
            spark,
            spark.createDataFrame([(4, "c")], "k long, seg string"),
            path,
            mode="append",
        )  # v2 = v1 files + delta
        commit_snapshot(
            spark,
            spark.createDataFrame([(9, "z")], "k long, seg string"),
            path,
        )  # v3 overwrite
        # staged data with no manifest and a FUTURE version number — from
        # vacuum's seat this is indistinguishable from an in-flight commit
        spark.createDataFrame([(0, "x")], "k long, seg string").write.parquet(
            f"{path}/data/v99-deadbeef"
        )
        report = vacuum_snapshots(spark, path, keep_last=2)
        assert report["dropped_versions"] == [1]
        # v1's files are ALL still referenced by surviving v2 (O(delta)
        # append reuses them), and the future-version stage is graced —
        # so this pass must delete nothing
        assert report["deleted_files"] == 0
        assert snapshot_versions(spark, path) == [2, 3]
        # v2 still fully readable: its manifest references v1-era files,
        # which must have survived the GC because v2 survived
        assert sorted(r["k"] for r in read_snapshot(spark, path, 2).collect()) == [
            1, 2, 3, 4,
        ]
        assert sorted(r["k"] for r in read_snapshot(spark, path, 3).collect()) == [9]
        # the possibly-in-flight future stage survived the graced vacuum…
        assert any("/data/v99-deadbeef" in d for d in report["skipped_in_flight"])
        assert [
            f for f in _list_parquet_files(spark, f"{path}/data")
            if "/data/v99-deadbeef/" in f
        ]
        # …and only an explicit zero-grace pass (no live writers) GCs it,
        # whole-dir recursive so the _SUCCESS marker goes too
        report2 = vacuum_snapshots(spark, path, keep_last=2, orphan_grace_seconds=0)
        assert report2["deleted_files"] > 0
        import os

        assert not os.path.exists(f"{path}/data/v99-deadbeef")

    def test_vacuum_age_based_retention(self, spark, tmp_path):
        """RETAIN-N-HOURS semantics: retain_seconds keeps versions
        younger than the cutoff even outside keep_last (a UNION — age
        can only keep MORE); backdated versions outside keep_last drop;
        an unreadable committed_at keeps the version."""
        import json
        import os
        import time as _time

        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            snapshot_versions,
            vacuum_snapshots,
        )

        path = str(tmp_path / "layer")
        for i in range(4):
            commit_snapshot(
                spark,
                spark.createDataFrame([(i, "x")], "k long, seg string"),
                path,
                mode="append" if i else "overwrite",
            )
        # backdate v1 and v2 two hours (plain-JSON manifests; the
        # signature-validated cache invalidates on the rewrite)
        for v in (1, 2):
            mp = os.path.join(path, "_manifests", f"v{v}.json")
            m = json.load(open(mp))
            m["committed_at"] = _time.time() - 7200
            json.dump(m, open(mp, "w"))
            # the direct rewrite invalidates Hadoop's local CRC sidecar
            crc = os.path.join(path, "_manifests", f".v{v}.json.crc")
            if os.path.exists(crc):
                os.remove(crc)
        # within a generous window everything survives, keep_last=1
        # notwithstanding (dry run first — it must agree)
        dry = vacuum_snapshots(
            spark, path, keep_last=1, retain_seconds=10**9, dry_run=True
        )
        assert dry["dropped_versions"] == []
        vacuum_snapshots(spark, path, keep_last=1, retain_seconds=10**9)
        assert snapshot_versions(spark, path) == [1, 2, 3, 4]
        # a 1-hour window drops the two backdated versions only: v4 via
        # keep_last, v3 via age
        report = vacuum_snapshots(
            spark, path, keep_last=1, retain_seconds=3600
        )
        assert report["dropped_versions"] == [1, 2]
        assert snapshot_versions(spark, path) == [3, 4]

    def test_manifest_data_skipping(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            read_snapshot,
            snapshot_files,
        )

        path = str(tmp_path / "layer")
        df = spark.range(0, 800).selectExpr("id AS k", "id * 2 AS v")
        commit_snapshot(
            spark, df.repartitionByRange(8, "k"), path, stats_cols=["k"]
        )
        # sharp skipping on the clustered column: a narrow band keeps a
        # strict subset of files
        all_f = snapshot_files(spark, path)
        kept = snapshot_files(spark, path, prune_range=("k", 100, 150))
        assert len(all_f) == 8 and 1 <= len(kept) < 8
        # skipping is an optimization, never a filter: pruned read +
        # predicate equals the full filtered table even when the band
        # straddles file boundaries
        got = sorted(
            r["k"]
            for r in read_snapshot(spark, path, prune_range=("k", 100, 150))
            .filter(F.col("k").between(100, 150))
            .collect()
        )
        assert got == list(range(100, 151))
        # fully out-of-range band: every file skipped, empty but typed
        empty = read_snapshot(spark, path, prune_range=("k", 5000, 6000))
        assert empty.count() == 0
        assert empty.schema.fieldNames() == ["k", "v"]
        # append merges stats: new delta file is skippable too
        commit_snapshot(
            spark,
            spark.createDataFrame([(10_000, 1)], "k long, v long"),
            path,
            mode="append",
            stats_cols=["k"],
        )
        kept2 = snapshot_files(spark, path, 2, prune_range=("k", 9000, None))
        assert len(kept2) == 1 and "/data/v2-" in kept2[0]

    def test_unorderable_prune_bound_keeps_files(self, spark, tmp_path):
        """An int ``prune_range`` over string stats cannot be ordered, so
        every file with recorded stats is kept (it used to raise
        TypeError in the per-file loop); the all-NULL file is still
        skipped, and the pushdown planner decides the same."""
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            snapshot_files,
        )

        path = str(tmp_path / "layer")
        # four range partitions of 10 ids; the last one is all-NULL on s
        df = spark.range(0, 40, 1, 4).selectExpr(
            "id AS k", "IF(id < 30, CAST(id AS STRING), NULL) AS s"
        )
        commit_snapshot(spark, df, path, stats_cols=["s"])
        all_f = snapshot_files(spark, path)
        kept = snapshot_files(spark, path, prune_range=("s", 5, 10))
        assert len(all_f) == 4 and len(kept) == 3 and set(kept) < set(all_f)

        from aie321_bigdata_movie_kpi_1m_spark.sources.pruning import (
            range_preds,
        )
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshot_batch import (
            plan_snapshot_scan,
        )

        scan = plan_snapshot_scan(path, None, range_preds("s", 5, 10))
        assert scan["files"] == kept

    def test_corrupt_manifest_fails_loudly(self, spark, tmp_path):
        """A truncated/garbled manifest must raise a parse error on read,
        never silently serve a partial file list."""
        import json as _json

        import pytest

        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            read_snapshot,
        )

        from py4j.protocol import Py4JJavaError

        path = str(tmp_path / "layer")
        commit_snapshot(spark, self._base(spark), path)
        mpath = f"{path}/_manifests/v1.json"
        with open(mpath, "w") as f:
            f.write('{"version": 1, "files": [')  # truncated mid-write
        # either failure mode is loud: the checksummed local FS rejects
        # the tampered file (ChecksumException via Py4J) before JSON
        # parsing even runs; a filesystem without CRC sidecars surfaces
        # the truncation as a JSON parse error instead
        with pytest.raises((Py4JJavaError, _json.JSONDecodeError)):
            read_snapshot(spark, path, 1)

    def test_aborted_commit_never_wedges_the_layer(self, spark, tmp_path):
        """A crash after staging data but before the manifest rename must
        not block any later commit of the same version number (unique
        staging dirs — the round-4 advice's wedge scenario)."""
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            read_snapshot,
            snapshot_versions,
        )

        path = str(tmp_path / "layer")
        commit_snapshot(spark, self._base(spark), path)  # v1
        # simulate v2 crashing between stage and manifest rename
        spark.createDataFrame([(7, "x")], "k long, seg string").write.parquet(
            f"{path}/data/v2-aborted0"
        )
        v2 = commit_snapshot(
            spark,
            spark.createDataFrame([(4, "c")], "k long, seg string"),
            path,
            mode="append",
        )
        assert v2 == 2 and snapshot_versions(spark, path) == [1, 2]
        # the aborted stage's rows are invisible (manifest is the truth)
        assert sorted(r["k"] for r in read_snapshot(spark, path).collect()) == [
            1, 2, 3, 4,
        ]

    def test_append_retype_rejected_at_write(self, spark, tmp_path):
        """Additive evolution only: an appended column may be NEW, but a
        re-typed existing column must fail at the write with a clear
        error, not at some later read that declares the recorded type."""
        import pytest

        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            read_snapshot,
        )

        path = str(tmp_path / "layer")
        commit_snapshot(spark, self._base(spark), path)
        with pytest.raises(ValueError, match="re-types column 'seg'"):
            commit_snapshot(
                spark,
                spark.createDataFrame([(5, 1.0)], "k long, seg double"),
                path,
                mode="append",
            )
        # additive append is fine, and every read returns the new column
        commit_snapshot(
            spark,
            spark.createDataFrame([(5, "e", 9)], "k long, seg string, extra long"),
            path,
            mode="append",
        )
        merged = read_snapshot(spark, path)
        assert set(merged.columns) == {"k", "seg", "extra"}
        assert merged.filter("extra IS NOT NULL").count() == 1

    def test_keyed_feed_handles_evolved_schema_and_values(self, spark, tmp_path):
        """Keyed diff across versions with DIFFERENT schemas (column added
        by an append) aligns to the union instead of raising, and
        include_values carries the before/after payloads."""
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            snapshot_changes_keyed,
        )

        path = str(tmp_path / "layer")
        commit_snapshot(spark, self._base(spark), path)  # v1: k, seg
        commit_snapshot(
            spark,
            spark.createDataFrame([(4, "c", 9)], "k long, seg string, extra long"),
            path,
            mode="append",
        )  # v2 adds `extra`
        rows = {
            (r["k"], r["change_type"], r["after"]["extra"] if r["after"] else None)
            for r in snapshot_changes_keyed(
                spark, path, 1, 2, ["k"], include_values=True
            ).collect()
        }
        # k=4 inserted with the new column; old keys unchanged (their
        # `extra` is NULL on both aligned sides, eqNullSafe keeps them out)
        assert rows == {(4, "insert", 9)}

    def test_rewrite_snapshot_compacts_and_preserves_time_travel(
        self, spark, tmp_path
    ):
        """In-layer compaction: head rewritten to fewer files as a NEW
        version, old versions' file sets untouched and still readable;
        vacuum then GCs the small files."""
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            read_snapshot,
            rewrite_snapshot,
            snapshot_files,
            vacuum_snapshots,
        )

        path = str(tmp_path / "layer")
        df = spark.range(0, 500).selectExpr("id AS k", "id % 7 AS seg")
        commit_snapshot(spark, df.repartition(12), path)  # v1: 12 small files
        before = snapshot_files(spark, path, 1)
        assert len(before) == 12
        report = rewrite_snapshot(spark, path)  # tiny bytes -> 1 file
        assert report["version"] == 2
        assert report["files_before"] == 12 and report["files_after"] == 1
        # same rows, head now plans over the compacted set
        assert read_snapshot(spark, path).count() == 500
        assert (
            read_snapshot(spark, path)
            .selectExpr("CAST(SUM(k) AS BIGINT) AS s")
            .first()["s"]
            == sum(range(500))
        )
        # time travel: v1 still reads its original 12 files
        assert snapshot_files(spark, path, 1) == before
        assert read_snapshot(spark, path, 1).count() == 500
        # retention pass drops v1 and GCs its 12 small files
        vacuum_snapshots(spark, path, keep_last=1, orphan_grace_seconds=0)
        import pytest

        with pytest.raises(FileNotFoundError, match="vacuumed"):
            read_snapshot(spark, path, 1)
        assert read_snapshot(spark, path).count() == 500

    def test_merge_cow_prunes_untouched_files(self, spark, tmp_path):
        """merge_snapshot: only files whose key range holds a delta key
        are rewritten; the rest are carried verbatim (same file paths in
        the new manifest), out-of-range inserts rewrite nothing, and the
        pre-merge version still time-travels."""
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            merge_snapshot,
            read_snapshot,
            snapshot_files,
        )

        path = str(tmp_path / "layer")
        base = spark.range(0, 800).selectExpr("id AS k", "'old' AS v")
        commit_snapshot(
            spark, base.repartitionByRange(8, "k"), path, stats_cols=["k"]
        )
        v1_files = set(snapshot_files(spark, path, 1))
        assert len(v1_files) == 8
        # updates confined to the low band + inserts beyond every range
        delta = spark.createDataFrame(
            [(5, "new"), (7, "new"), (9000, "new")], "k long, v string"
        )
        report = merge_snapshot(spark, delta, path, "k", stats_cols=["k"])
        assert report["version"] == 2
        assert report["files_rewritten"] == 1  # only the low-band file
        assert report["files_carried"] == 7
        v2_files = set(snapshot_files(spark, path, 2))
        assert len(v1_files & v2_files) == 7  # carried verbatim
        head = {(r["k"], r["v"]) for r in read_snapshot(spark, path).collect()}
        expect = {(k, "old") for k in range(800) if k not in (5, 7)}
        expect |= {(5, "new"), (7, "new"), (9000, "new")}
        assert head == expect
        # time travel: v1 unchanged
        assert {
            (r["k"], r["v"]) for r in read_snapshot(spark, path, 1).collect()
        } == {(k, "old") for k in range(800)}
        # skipping still works on the merged manifest's stats
        kept = snapshot_files(spark, path, 2, prune_range=("k", 8500, None))
        assert kept and all(f not in v1_files for f in kept)

    def test_merge_pure_insert_rewrites_nothing(self, spark, tmp_path):
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            merge_snapshot,
            read_snapshot,
        )

        path = str(tmp_path / "layer")
        commit_snapshot(
            spark,
            spark.range(0, 100)
            .selectExpr("id AS k", "'x' AS v")
            .repartitionByRange(4, "k"),
            path,
            stats_cols=["k"],
        )
        report = merge_snapshot(
            spark,
            spark.createDataFrame([(500, "y")], "k long, v string"),
            path,
            "k",
        )
        assert report["files_rewritten"] == 0
        assert report["files_carried"] == 4
        assert read_snapshot(spark, path).count() == 101

    def test_merge_rejects_dropped_column(self, spark, tmp_path):
        """A delta MISSING a layer column still raises (narrowing would
        corrupt carried rows); extra columns are additive evolution and
        succeed — see TestMergeSchemaEvolution."""
        import pytest

        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            merge_snapshot,
        )

        path = str(tmp_path / "layer")
        commit_snapshot(spark, self._base(spark), path)
        with pytest.raises(ValueError, match="additively only"):
            merge_snapshot(
                spark,
                spark.createDataFrame([(1,)], "k long"),
                path,
                "k",
            )

    def test_empty_pruned_read_uses_manifest_schema(self, spark, tmp_path):
        """A fully-pruned read returns an empty frame typed from the
        manifest's recorded schema — zero parquet footers opened."""
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            read_snapshot,
        )

        path = str(tmp_path / "layer")
        commit_snapshot(
            spark,
            spark.range(0, 10).selectExpr("id AS k", "CAST(id AS STRING) AS s"),
            path,
            stats_cols=["k"],
        )
        empty = read_snapshot(spark, path, prune_range=("k", 900, 999))
        assert empty.count() == 0
        assert [f.name for f in empty.schema.fields] == ["k", "s"]
        assert empty.schema["k"].dataType.simpleString() == "bigint"
        assert empty.schema["s"].dataType.simpleString() == "string"

    def test_layer_works_under_uri_scheme_path(self, spark, tmp_path):
        """The portability contract: every layer operation goes through
        the Hadoop FS API, so an explicit URI-scheme path must behave
        exactly like a bare local path (the local stand-in for
        hdfs:// and s3a:// substrates)."""
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            read_snapshot,
            snapshot_files,
            vacuum_snapshots,
        )

        path = f"file://{tmp_path}/layer"
        commit_snapshot(
            spark,
            self._base(spark).repartitionByRange(2, "k"),
            path,
            stats_cols=["k"],
        )
        commit_snapshot(
            spark,
            spark.createDataFrame([(4, "c")], "k long, seg string"),
            path,
            mode="append",
            stats_cols=["k"],
        )
        assert sorted(r["k"] for r in read_snapshot(spark, path).collect()) == [
            1, 2, 3, 4,
        ]
        assert len(
            snapshot_files(spark, path, prune_range=("k", 4, None))
        ) < len(snapshot_files(spark, path))
        report = vacuum_snapshots(spark, path, keep_last=1)
        assert report["dropped_versions"] == [1]
        # v2 (append) references v1 files, so nothing it needs was GC'd
        assert sorted(r["k"] for r in read_snapshot(spark, path).collect()) == [
            1, 2, 3, 4,
        ]

    def test_schema_evolution_across_commits(self, spark, tmp_path):
        """An append commit may add columns (additive evolution): the
        head read projects onto the recorded union schema — old files
        read NULL for the new column; an older version keeps its own
        recorded schema."""
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            read_snapshot,
        )

        path = str(tmp_path / "layer")
        commit_snapshot(spark, self._base(spark), path)
        commit_snapshot(
            spark,
            spark.createDataFrame(
                [(4, "c", 9.5)], "k long, seg string, score double"
            ),
            path,
            mode="append",
        )
        merged = read_snapshot(spark, path)
        assert set(merged.columns) == {"k", "seg", "score"}
        rows = {r["k"]: r["score"] for r in merged.collect()}
        assert rows == {1: None, 2: None, 3: None, 4: 9.5}
        # v1 pinned read is untouched by the later wider commit
        assert set(read_snapshot(spark, path, 1).columns) == {"k", "seg"}

    def test_full_and_pruned_reads_agree_after_additive_append(
        self, spark, tmp_path
    ):
        """After an additive append, a full read and a pruned read return
        the same columns in record order, older rows read NULL for the
        new column, and a delete naming it still resolves each row's
        ``_metadata`` identity under the declared schema."""
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            delete_snapshot,
            read_snapshot,
        )

        path = str(tmp_path / "layer")
        kw = dict(stats_cols=["a"], bloom_col="a")
        commit_snapshot(
            spark, spark.createDataFrame([(1, "x")], "a long, b string"), path,
            **kw,
        )
        commit_snapshot(
            spark,
            spark.createDataFrame([(11, "y", 2.5)], "a long, b string, c double"),
            path, mode="append", **kw,
        )
        full = read_snapshot(spark, path)
        pruned = read_snapshot(spark, path, prune_range=("a", 11, 11))
        point = read_snapshot(spark, path, prune_point=("a", 1))
        assert full.columns == pruned.columns == point.columns == ["a", "b", "c"]
        assert sorted(tuple(r) for r in full.collect()) == [
            (1, "x", None), (11, "y", 2.5),
        ]
        assert [tuple(r) for r in pruned.collect()] == [(11, "y", 2.5)]
        assert [tuple(r) for r in point.collect()] == [(1, "x", None)]
        assert delete_snapshot(spark, path, "c > 2")["rows_deleted"] == 1
        assert [tuple(r) for r in read_snapshot(spark, path).collect()] == [
            (1, "x", None)
        ]

    def test_point_lookup_runs_one_job(self, spark, tmp_path):
        """A pruned point lookup + collect runs exactly one Spark job: the
        read declares the manifest's schema, so no schema-inference job
        runs in front of the scan."""
        import uuid

        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            read_snapshot,
        )

        path = str(tmp_path / "layer")
        kw = dict(stats_cols=["k"], bloom_col="k")
        commit_snapshot(
            spark,
            spark.range(0, 40, 1, 4).selectExpr("id AS k", "id % 5 AS v")
            .repartitionByRange(4, "k"),
            path, **kw,
        )
        commit_snapshot(
            spark, spark.range(40, 60, 1, 1).selectExpr("id AS k", "id % 5 AS v"),
            path, mode="append", **kw,
        )
        rows, sites = _group_jobs(
            spark, f"point-lookup-{uuid.uuid4().hex[:8]}",
            lambda: read_snapshot(spark, path, prune_point=("k", 47))
            .filter("k = 47")
            .collect(),
        )
        assert [tuple(r) for r in rows] == [(47, 2)]
        assert len(sites) == 1, sites


class TestSnapshotTxn:
    def test_txn_commits_are_idempotent_per_app(self, spark, tmp_path):
        """commit_snapshot(txn=...): a replayed (app, version) is a no-op
        returning the head; newer versions commit; other apps are
        independent; merge commits carry the high-water map forward."""
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            merge_snapshot,
            read_snapshot,
            snapshot_versions,
        )

        path = str(tmp_path / "layer")
        df = lambda k: spark.createDataFrame([(k, "x")], "k long, v string")  # noqa: E731
        assert commit_snapshot(spark, df(1), path, mode="append", txn=("a", 0)) == 1
        # replay of batch 0: no new version, head returned
        assert commit_snapshot(spark, df(99), path, mode="append", txn=("a", 0)) == 1
        assert snapshot_versions(spark, path) == [1]
        assert commit_snapshot(spark, df(2), path, mode="append", txn=("a", 1)) == 2
        # stale replay after progress: still a no-op
        assert commit_snapshot(spark, df(98), path, mode="append", txn=("a", 0)) == 2
        # a different writer app has its own watermark
        assert commit_snapshot(spark, df(3), path, mode="append", txn=("b", 0)) == 3
        assert sorted(
            r["k"] for r in read_snapshot(spark, path).collect()
        ) == [1, 2, 3]
        # merge carries the txn map: the stale replay stays a no-op after it
        merge_snapshot(
            spark,
            spark.createDataFrame([(2, "y")], "k long, v string"),
            path,
            "k",
        )
        head = snapshot_versions(spark, path)[-1]
        assert (
            commit_snapshot(spark, df(97), path, mode="append", txn=("a", 1))
            == head
        )

    @pytest.mark.parametrize(
        "mutator", ["commit", "delete", "delete_keys", "merge"]
    )
    def test_txn_replay_is_noop(self, spark, tmp_path, mutator):
        """Every txn-aware mutator: a replayed (app, version) — here with
        a payload that WOULD change the layer — commits nothing, leaves
        the rows as they were and answers with the head (``noop`` for
        the dict-returning mutators)."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        rows = lambda *ks: spark.createDataFrame(  # noqa: E731
            [(k, "x") for k in ks], "k long, v string"
        )
        snap.commit_snapshot(spark, rows(1, 2, 3), path, stats_cols=["k"])
        op = {
            "commit": lambda k: snap.commit_snapshot(
                spark, rows(k), path, mode="append", txn=("app", 1)
            ),
            "delete": lambda k: snap.delete_snapshot(
                spark, path, f"k = {k}", txn=("app", 1)
            ),
            "delete_keys": lambda k: snap.delete_snapshot_keys(
                spark, path, "k", [k], txn=("app", 1)
            ),
            "merge": lambda k: snap.merge_snapshot(
                spark, rows(k).withColumn("v", F.lit("new")), path, "k",
                txn=("app", 1),
            ),
        }[mutator]
        first = op(1)
        assert first == 2 or (first["version"] == 2 and "noop" not in first)
        state = sorted(snap.read_snapshot(spark, path).collect())
        replay = op(2)
        if mutator == "commit":
            assert replay == 2
        else:
            assert replay["version"] == 2 and replay["noop"] is True
        assert snap.snapshot_versions(spark, path) == [1, 2]
        assert sorted(snap.read_snapshot(spark, path).collect()) == state


class TestSnapshotBloom:
    def test_bloom_point_prune_is_safe_and_sharp(self, spark, tmp_path):
        """Bloom file index: a point probe keeps the file(s) actually
        holding the key (never drops a true positive — checked for EVERY
        key), skips most others on a hash-scrambled layout, and absent
        keys prune to (near) zero files; range + point pruning compose."""
        from pyspark.sql import functions as F

        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            read_snapshot,
            snapshot_files,
        )

        path = str(tmp_path / "layer")
        df = spark.range(0, 400).selectExpr("id AS k", "id * 3 AS v")
        commit_snapshot(
            spark, df.repartition(8), path, stats_cols=["k"], bloom_col="k"
        )
        all_f = snapshot_files(spark, path)
        assert len(all_f) == 8
        # correctness for every key: the pruned read still finds it
        kept_counts = []
        for probe in (0, 7, 123, 399):
            files = snapshot_files(spark, path, prune_point=("k", probe))
            kept_counts.append(len(files))
            got = (
                read_snapshot(spark, path, prune_point=("k", probe))
                .filter(F.col("k") == probe)
                .collect()
            )
            assert [(r["k"], r["v"]) for r in got] == [(probe, probe * 3)]
        # sharpness: on average the probe plans over far fewer files
        assert sum(kept_counts) / len(kept_counts) < 4
        # absent key: bloom says definitely-not for (almost) every file
        assert len(snapshot_files(spark, path, prune_point=("k", 10**9))) <= 2
        # composition: range band + point probe intersect
        both = snapshot_files(
            spark, path, prune_range=("k", 0, 1000), prune_point=("k", 7)
        )
        assert set(both) <= set(snapshot_files(spark, path, prune_point=("k", 7)))

    def test_bloom_in_list_probe_unions_per_value_keeps(self, spark, tmp_path):
        """IN-list point probe: ``prune_point=(col, [v1, v2])`` plans the
        ``col IN (...)`` shape — the kept set is exactly the union of the
        per-value keeps (never drops a true positive for ANY listed key),
        and an all-absent list still prunes to (near) zero files."""
        from pyspark.sql import functions as F

        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            read_snapshot,
            snapshot_files,
        )

        path = str(tmp_path / "layer")
        df = spark.range(0, 400).selectExpr("id AS k", "id * 3 AS v")
        commit_snapshot(
            spark, df.repartition(8), path, stats_cols=["k"], bloom_col="k"
        )
        probes = [7, 123, 399]
        union_of_singles = set()
        for p in probes:
            union_of_singles |= set(
                snapshot_files(spark, path, prune_point=("k", p))
            )
        in_list = set(snapshot_files(spark, path, prune_point=("k", probes)))
        assert in_list == union_of_singles
        got = (
            read_snapshot(spark, path, prune_point=("k", probes))
            .filter(F.col("k").isin(probes))
            .collect()
        )
        assert sorted((r["k"], r["v"]) for r in got) == [
            (p, p * 3) for p in sorted(probes)
        ]
        # all-absent IN-list: bloom still says definitely-not almost everywhere
        absent = snapshot_files(
            spark, path, prune_point=("k", [10**9, 10**9 + 1])
        )
        assert len(absent) <= 3

    def test_bloom_dataframe_probe_matches_list_probe(self, spark, tmp_path):
        """DataFrame-probe planning (``prune_point=(col, probe_df)``):
        keeps EXACTLY the files the equivalent IN-list probe keeps
        (same all-bits-present test, evaluated executor-side), ships
        zero probe values through the driver-keys counter, and an
        all-absent probe batch still prunes to (near) zero files."""
        from aie321_bigdata_movie_kpi_1m_spark.sources import snapshots as snap

        path = str(tmp_path / "layer")
        df = spark.range(0, 400).selectExpr("id AS k", "id * 3 AS v")
        snap.commit_snapshot(
            spark, df.repartition(8), path, stats_cols=["k"], bloom_col="k"
        )
        probes = [7, 123, 399]
        in_list = set(
            snap.snapshot_files(spark, path, prune_point=("k", probes))
        )
        before = snap._POINT_PROBE_DRIVER_KEYS["n"]
        probe_df = spark.createDataFrame([(p,) for p in probes], "k long")
        via_df = set(
            snap.snapshot_files(spark, path, prune_point=("k", probe_df))
        )
        assert via_df == in_list
        assert snap._POINT_PROBE_DRIVER_KEYS["n"] == before
        # the pruned read (files-only pruning) + equi-join restriction
        # finds every probed key
        got = (
            snap.read_snapshot(spark, path, prune_point=("k", probe_df))
            .join(probe_df, "k")
            .collect()
        )
        assert sorted((r["k"], r["v"]) for r in got) == [
            (p, p * 3) for p in sorted(probes)
        ]
        # absent batch: near-zero files; empty batch: only bloom-less
        # files (none here) survive
        absent = spark.createDataFrame([(10**9,), (10**9 + 1,)], "k long")
        assert len(
            snap.snapshot_files(spark, path, prune_point=("k", absent))
        ) <= 3
        empty = spark.createDataFrame([], "k long")
        assert (
            snap.snapshot_files(spark, path, prune_point=("k", empty)) == []
        )

    def test_bloom_positions_fast_path_matches_literal_path(self, spark):
        """The r15 probe-position fast path (pure-Python XXH64 via
        ``snapshot_batch.bloom_probe_positions`` — zero Spark jobs) must
        be bit-identical to the literal-expression Spark reference for
        both probe key types the layers use (long bkeys/cells, string
        tokens/vars), including unicode, negatives and the empty string;
        MIXED lists and exotic types (bool rides the literal fallback —
        Python would render True where Spark casts to 'true') must also
        agree."""
        from pyspark.sql import functions as F

        from aie321_bigdata_movie_kpi_1m_spark.sources import snapshots as snap

        def literal_ref(values, m, k):
            row = spark.range(1).select(
                *[
                    F.pmod(
                        F.xxhash64(F.lit(v).cast("string"), F.lit(i)),
                        F.lit(m),
                    ).alias(f"b_{j}_{i}")
                    for j, v in enumerate(values)
                    for i in range(k)
                ]
            ).first()
            return [
                [int(row[f"b_{j}_{i}"]) for i in range(k)]
                for j in range(len(values))
            ]

        m, k = 4096, 5
        for values in (
            [0, -1, 7, 2**62, -(2**62), 123456789],
            ["stream", "", "élève", "two words", "UPPER"],
            [3, "mixed", -9, "ünïcode", True],  # mixed + bool fallback
        ):
            assert snap._bloom_positions_multi(
                spark, values, m=m, k=k
            ) == literal_ref(values, m, k)

    def test_bloom_entries_carry_through_append_and_merge(self, spark, tmp_path):
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            _manifest,
            commit_snapshot,
            merge_snapshot,
            snapshot_files,
        )

        path = str(tmp_path / "layer")
        commit_snapshot(
            spark,
            spark.range(0, 100).selectExpr("id AS k", "'x' AS v")
            .repartitionByRange(4, "k"),
            path,
            stats_cols=["k"],
            bloom_col="k",
        )
        commit_snapshot(
            spark,
            spark.createDataFrame([(500, "y")], "k long, v string"),
            path,
            mode="append",
            bloom_col="k",
        )
        m2 = _manifest(spark, path, 2)
        # >= 5: range partitioning may emit a zero-row part file, whose
        # empty bloom ([] — no bit set) correctly always skips
        assert m2["bloom_col"] == "k" and len(m2["blooms"]) >= 5
        # the appended key is bloom-locatable in its single delta file
        assert len(snapshot_files(spark, path, prune_point=("k", 500))) <= 2
        # merge: carried files keep their blooms verbatim AND the
        # rewritten files get FRESH entries under the layer's (m, k) —
        # a CDC-maintained layer must not shed its point-lookup index
        # on the hot (rewritten) tail (r9 verdict: pre-r10 merges wrote
        # the rewritten region bloom-less)
        merge_snapshot(
            spark,
            spark.createDataFrame([(5, "z")], "k long, v string"),
            path,
            "k",
        )
        m3 = _manifest(spark, path, 3)
        assert m3["bloom_col"] == "k"
        assert set(m3["blooms"]) == {
            f.rsplit("/", 1)[-1] for f in m3["files"]
        }
        # the merged key still bloom-locates to a strict file subset
        assert len(snapshot_files(spark, path, prune_point=("k", 5))) < len(
            m3["files"]
        )


class TestSnapshotDeletes:
    def test_merge_on_read_delete_lifecycle(self, spark, tmp_path):
        """Position-delete files: DELETE rewrites nothing, reads apply
        the vectors, deletes compound, time travel sees pre-delete data,
        and the metadata-only row count stays exact at every step."""
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            delete_snapshot,
            read_snapshot,
            snapshot_files,
            snapshot_row_count,
        )

        path = str(tmp_path / "layer")
        df = spark.range(0, 400).selectExpr("id AS k", "id * 3 AS v")
        commit_snapshot(spark, df.repartitionByRange(8, "k"), path, stats_cols=["k"])
        assert snapshot_row_count(spark, path) == 400

        r = delete_snapshot(spark, path, "k % 10 = 3")
        assert r["rows_deleted"] == 40 and r["version"] == 2
        # same physical data files — merge-on-read, zero rewrite
        assert snapshot_files(spark, path, 1) == snapshot_files(spark, path, 2)
        assert read_snapshot(spark, path).count() == 360
        assert snapshot_row_count(spark, path) == 360
        assert read_snapshot(spark, path).filter("k % 10 = 3").count() == 0
        # time travel: v1 unaffected
        assert read_snapshot(spark, path, 1).count() == 400

        # second delete compounds without double-counting the overlap
        r2 = delete_snapshot(spark, path, "k % 10 = 3 OR k < 5")
        assert r2["rows_deleted"] == 4  # only 0..4 minus already-gone 3
        assert read_snapshot(spark, path).count() == 356
        assert snapshot_row_count(spark, path) == 356

        # no-match delete is a no-op (no new version)
        r3 = delete_snapshot(spark, path, "k = 999999")
        assert r3 == {"version": 3, "rows_deleted": 0, "files_touched": 0}

    def test_delete_prune_range_limits_the_scan(self, spark, tmp_path):
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            delete_snapshot,
            read_snapshot,
            snapshot_row_count,
        )

        path = str(tmp_path / "layer")
        df = spark.range(0, 400).selectExpr("id AS k", "id AS v")
        commit_snapshot(spark, df.repartitionByRange(8, "k"), path, stats_cols=["k"])
        r = delete_snapshot(
            spark, path, "k BETWEEN 100 AND 149", prune_range=("k", 100, 149)
        )
        assert r["rows_deleted"] == 50 and r["files_touched"] <= 2
        assert read_snapshot(spark, path).count() == 350
        assert snapshot_row_count(spark, path) == 350

    def test_merge_does_not_resurrect_deleted_rows(self, spark, tmp_path):
        """A MERGE that rewrites a dirty file must fold its deletion
        vector in: deleted keys stay gone unless the delta re-inserts
        them, and the carried files' vectors keep applying."""
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            _manifest,
            commit_snapshot,
            delete_snapshot,
            merge_snapshot,
            read_snapshot,
            snapshot_row_count,
        )

        path = str(tmp_path / "layer")
        df = spark.range(0, 400).selectExpr("id AS k", "id * 3 AS v")
        commit_snapshot(spark, df.repartitionByRange(8, "k"), path, stats_cols=["k"])
        delete_snapshot(spark, path, "k % 10 = 3")  # 40 gone
        delta = spark.createDataFrame([(3, 999), (10, 111)], "k long, v long")
        mr = merge_snapshot(spark, delta, path, "k", stats_cols=["k"])
        assert mr["files_rewritten"] == 1 and mr["files_carried"] == 7
        head = read_snapshot(spark, path)
        got = {r["k"]: r["v"] for r in head.filter("k IN (3, 10, 13, 23)").collect()}
        assert got == {3: 999, 10: 111}  # 13/23 stay deleted
        assert head.count() == 361 == snapshot_row_count(spark, path)
        # the rewritten file's delete entry was trimmed away; carried
        # files keep theirs
        m = _manifest(spark, path, 3)
        touches = {b for e in m["delete_files"] for b in e["touches"]}
        bases = {f.rsplit("/", 1)[-1] for f in m["files"]}
        assert touches and touches < bases

    def test_rewrite_folds_vectors_and_vacuum_gc(self, spark, tmp_path):
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            _manifest,
            commit_snapshot,
            delete_snapshot,
            read_snapshot,
            rewrite_snapshot,
            snapshot_row_count,
            vacuum_snapshots,
        )

        path = str(tmp_path / "layer")
        df = spark.range(0, 400).selectExpr("id AS k", "id AS v")
        commit_snapshot(spark, df.repartitionByRange(8, "k"), path, stats_cols=["k"])
        delete_snapshot(spark, path, "k < 100")
        rw = rewrite_snapshot(spark, path, n_files=2)
        m = _manifest(spark, path, rw["version"])
        assert m["delete_files"] == []  # vectors folded into the rewrite
        assert read_snapshot(spark, path).count() == 300
        assert snapshot_row_count(spark, path) == 300
        # vacuum with only the head kept GCs the orphaned DV dir but the
        # head stays readable
        vac = vacuum_snapshots(spark, path, keep_last=1, orphan_grace_seconds=0)
        assert vac["dropped_versions"] == [1, 2]
        assert read_snapshot(spark, path).count() == 300

    def test_vacuum_keeps_referenced_delete_files(self, spark, tmp_path):
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            delete_snapshot,
            read_snapshot,
            vacuum_snapshots,
        )

        path = str(tmp_path / "layer")
        commit_snapshot(
            spark,
            spark.range(0, 100).selectExpr("id AS k", "id AS v"),
            path,
            stats_cols=["k"],
        )
        delete_snapshot(spark, path, "k < 10")
        # keep_last=1 keeps only v2, whose delete entry must survive GC
        vacuum_snapshots(spark, path, keep_last=1, orphan_grace_seconds=0)
        assert read_snapshot(spark, path).count() == 90


class TestMergeResolveTxn:
    def test_last_writer_wins_resolve(self, spark, tmp_path):
        """resolve=[ver]: an out-of-order (older) delta row must NOT
        clobber newer committed state; a newer delta row must."""
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            merge_snapshot,
            read_snapshot,
        )

        path = str(tmp_path / "layer")
        base = spark.createDataFrame(
            [(1, 10, "a"), (2, 10, "b"), (3, 10, "c")],
            "k long, ver long, val string",
        )
        commit_snapshot(
            spark, base.repartitionByRange(2, "k"), path, stats_cols=["k"]
        )
        delta = spark.createDataFrame(
            [(1, 5, "stale"), (2, 20, "fresh"), (9, 1, "new")],
            "k long, ver long, val string",
        )
        merge_snapshot(spark, delta, path, "k", stats_cols=["k"], resolve=["ver"])
        got = {
            r["k"]: (r["ver"], r["val"])
            for r in read_snapshot(spark, path).collect()
        }
        assert got == {
            1: (10, "a"),      # stale update rejected
            2: (20, "fresh"),  # newer update applied
            3: (10, "c"),      # untouched
            9: (1, "new"),     # insert
        }

    def test_streaming_upsert_writer_replay(self, spark, tmp_path):
        """The foreachBatch upsert writer: batch replayed with the same
        batch_id is a no-op; in-batch duplicates resolve to the greatest
        (ver) row before merging."""
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            read_snapshot,
            snapshot_versions,
        )
        from aie321_bigdata_movie_kpi_1m_spark.streaming.snapshot_sink import (
            snapshot_upsert_writer,
        )

        path = str(tmp_path / "layer")
        w = snapshot_upsert_writer(path, "k", resolve=["ver"])
        b0 = spark.createDataFrame(
            [(1, 1, "x"), (1, 2, "y"), (2, 1, "z")], "k long, ver long, v string"
        )
        w(b0, 0)  # bootstrap, in-batch dup on k=1 resolved to ver=2
        w(b0, 0)  # replay: no-op
        assert snapshot_versions(spark, path) == [1]
        got = {r["k"]: (r["ver"], r["v"]) for r in read_snapshot(spark, path).collect()}
        assert got == {1: (2, "y"), 2: (1, "z")}
        b1 = spark.createDataFrame([(2, 9, "w")], "k long, ver long, v string")
        w(b1, 1)
        w(b1, 1)  # replay: no-op
        assert snapshot_versions(spark, path) == [1, 2]
        got = {r["k"]: (r["ver"], r["v"]) for r in read_snapshot(spark, path).collect()}
        assert got == {1: (2, "y"), 2: (9, "w")}


class TestSnapshotZorder:
    def test_zorder_rewrite_sharpens_every_dimension(self, spark, tmp_path):
        """zorder_by rewrite: a band probe on EITHER dimension prunes to
        a strict subset (hash-scrambled v1 kept everything), the 2-D
        probe composes, time travel still reads v1, and no row is lost."""
        from pyspark.sql import functions as F

        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            read_snapshot,
            rewrite_snapshot,
            snapshot_files,
        )

        path = str(tmp_path / "layer")
        df = spark.range(0, 4096).select(
            F.col("id").alias("x"),
            F.pmod(F.col("id") * 2654435761, F.lit(4096)).alias("y"),
        )
        commit_snapshot(
            spark, df.repartition(16), path, stats_cols=["x", "y"]
        )
        assert len(snapshot_files(spark, path, prune_range=("x", 1000, 1400))) == 16
        rewrite_snapshot(spark, path, zorder_by=["x", "y"], n_files=16)
        all_f = snapshot_files(spark, path)
        fx = snapshot_files(spark, path, prune_range=("x", 1000, 1400))
        fy = snapshot_files(spark, path, prune_range=("y", 1000, 1400))
        fboth = snapshot_files(
            spark, path, prune_range=[("x", 1000, 1400), ("y", 1000, 1400)]
        )
        assert len(fx) < len(all_f) and len(fy) < len(all_f)
        assert set(fboth) <= set(fx) and set(fboth) <= set(fy)
        # pruned read + residual predicate == full truth
        got = (
            read_snapshot(
                spark, path,
                prune_range=[("x", 1000, 1400), ("y", 1000, 1400)],
            )
            .filter(F.col("x").between(1000, 1400) & F.col("y").between(1000, 1400))
            .count()
        )
        want = df.filter(
            F.col("x").between(1000, 1400) & F.col("y").between(1000, 1400)
        ).count()
        assert got == want
        assert read_snapshot(spark, path, 1).count() == 4096
        assert read_snapshot(spark, path, 2).count() == 4096

    def test_zorder_and_cluster_by_exclusive(self, spark, tmp_path):
        import pytest

        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            rewrite_snapshot,
        )

        path = str(tmp_path / "layer")
        commit_snapshot(
            spark, spark.range(10).selectExpr("id AS x", "id AS y"), path
        )
        with pytest.raises(ValueError, match="mutually exclusive"):
            rewrite_snapshot(
                spark, path, cluster_by="x", zorder_by=["x", "y"], n_files=2
            )


class TestSnapshotMinMax:
    def test_minmax_from_manifest_and_guards(self, spark, tmp_path):
        """snapshot_minmax answers exactly from stats; refuses (None)
        without stats or with live deletion vectors; empty/all-NULL
        files contribute nothing."""
        from pyspark.sql import functions as F

        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            delete_snapshot,
            rewrite_snapshot,
            snapshot_minmax,
        )

        path = str(tmp_path / "layer")
        df = spark.range(5, 405).selectExpr("id AS k", "id AS v")
        commit_snapshot(
            spark, df.repartitionByRange(8, "k"), path, stats_cols=["k"]
        )
        assert snapshot_minmax(spark, path, "k") == (5, 404)
        assert snapshot_minmax(spark, path, "v") is None  # no stats for v
        # append an all-NULL-k batch: extrema unchanged
        commit_snapshot(
            spark,
            spark.createDataFrame([(None, 1)], "k long, v long"),
            path,
            mode="append",
            stats_cols=["k"],
        )
        assert snapshot_minmax(spark, path, "k") == (5, 404)
        # a live deletion vector could have removed the extremum: refuse
        delete_snapshot(spark, path, "k = 404")
        assert snapshot_minmax(spark, path, "k") is None
        # compaction folds the vectors in; answers again, new max
        rewrite_snapshot(spark, path, n_files=2, stats_cols=["k"])
        assert snapshot_minmax(spark, path, "k") == (5, 403)


class TestCompactSmallFiles:
    def test_binpack_carries_big_and_folds_small_dvs(self, spark, tmp_path):
        """compact_small_files rewrites only under-threshold files; the
        big file is carried byte-identical WITH its live deletion
        vector; small files' vectors fold into the packed output; row
        counts stay metadata-exact throughout."""
        from pyspark.sql import functions as F

        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            _fs,
            _hpath,
            _manifest,
            commit_snapshot,
            compact_small_files,
            delete_snapshot,
            read_snapshot,
            snapshot_files,
            snapshot_row_count,
        )

        path = str(tmp_path / "layer")
        big = spark.range(0, 5000).selectExpr("id AS k", "id AS v")
        commit_snapshot(spark, big.coalesce(1), path, stats_cols=["k"])
        for lo in (5000, 5010, 5020):
            commit_snapshot(
                spark,
                spark.range(lo, lo + 10).selectExpr("id AS k", "id AS v"),
                path,
                mode="append",
                stats_cols=["k"],
            )
        # one delete touching the big file, one touching a small file
        delete_snapshot(spark, path, "k = 4999 OR k = 5005")
        n_before = read_snapshot(spark, path).count()
        files = snapshot_files(spark, path)
        jvm, fs = _fs(spark, path)
        sizes = {f: fs.getFileStatus(_hpath(jvm, f)).getLen() for f in files}
        bigf = max(sizes, key=sizes.get)
        res = compact_small_files(
            spark, path, small_file_bytes=sizes[bigf], stats_cols=["k"]
        )
        assert res["files_carried"] == 1 and res["files_rewritten"] >= 3
        after = snapshot_files(spark, path)
        assert bigf in after
        m = _manifest(spark, path, res["version"])
        # big file's DV entry carried; small-file entries folded away
        touched = {b for e in m["delete_files"] for b in e["touches"]}
        assert touched == {bigf.rsplit("/", 1)[-1]}
        assert read_snapshot(spark, path).count() == n_before
        assert snapshot_row_count(spark, path) == n_before
        # both deleted keys stay gone through the packed layout
        assert (
            read_snapshot(spark, path).filter("k IN (4999, 5005)").count() == 0
        )

    def test_binpack_noop_with_one_small_file(self, spark, tmp_path):
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            compact_small_files,
            snapshot_versions,
        )

        path = str(tmp_path / "layer")
        commit_snapshot(
            spark, spark.range(10).selectExpr("id AS k").coalesce(1), path
        )
        res = compact_small_files(spark, path, small_file_bytes=10**9)
        assert res["files_rewritten"] == 0
        assert snapshot_versions(spark, path) == [1]


class TestSnapshotHistory:
    def test_history_and_timestamp_as_of(self, spark, tmp_path):
        """snapshot_history rows track mode/file/row counts through
        append + delete; TIMESTAMP AS OF resolves the version current
        at an instant, errors before the first commit and after vacuum."""
        import time as _time

        import pytest

        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            delete_snapshot,
            read_snapshot,
            snapshot_history,
            snapshot_version_as_of,
            vacuum_snapshots,
        )

        path = str(tmp_path / "layer")
        t_before = _time.time()
        commit_snapshot(
            spark,
            spark.range(0, 100).selectExpr("id AS k").coalesce(2),
            path,
            stats_cols=["k"],
        )
        t_v1 = _time.time()
        _time.sleep(0.05)
        commit_snapshot(
            spark,
            spark.range(100, 150).selectExpr("id AS k").coalesce(1),
            path,
            mode="append",
            stats_cols=["k"],
        )
        delete_snapshot(spark, path, "k < 10")
        hist = {r["version"]: r for r in snapshot_history(spark, path).collect()}
        assert hist[1]["mode"] == "overwrite" and hist[1]["n_rows"] == 100
        assert hist[2]["mode"] == "append" and hist[2]["n_rows"] == 150
        assert hist[3]["mode"] == "delete" and hist[3]["n_rows"] == 140
        assert hist[3]["n_files"] == hist[2]["n_files"]  # MoR: no rewrite
        assert hist[3]["n_delete_entries"] == 1
        # timestamp resolution
        assert snapshot_version_as_of(spark, path, t_v1) == 1
        assert snapshot_version_as_of(spark, path, _time.time()) == 3
        assert read_snapshot(spark, path, as_of=t_v1).count() == 100
        with pytest.raises(FileNotFoundError):
            snapshot_version_as_of(spark, path, t_before)
        with pytest.raises(ValueError, match="mutually exclusive"):
            read_snapshot(spark, path, 2, as_of=t_v1)
        # vacuum drops v1; its instant now resolves to nothing
        vacuum_snapshots(spark, path, keep_last=2, orphan_grace_seconds=0)
        with pytest.raises(FileNotFoundError, match="vacuumed"):
            snapshot_version_as_of(spark, path, t_v1)


class TestChecksAndRetry:
    def test_check_constraints_reject_and_inherit(self, spark, tmp_path):
        """CHECK constraints: a violating commit is rejected atomically
        (layer unchanged, staged dir gone); appends inherit the head's
        checks without restating them; NULL predicate results pass
        (SQL CHECK semantics); MERGE enforces them on the delta."""
        import pytest

        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            merge_snapshot,
            read_snapshot,
            snapshot_versions,
        )

        path = str(tmp_path / "layer")
        ok = spark.createDataFrame(
            [(1, 10), (2, None)], "k long, n long"  # NULL passes the check
        )
        commit_snapshot(
            spark, ok, path, stats_cols=["k"], checks={"n_nonneg": "n >= 0"}
        )
        bad = spark.createDataFrame([(3, -5)], "k long, n long")
        with pytest.raises(ValueError, match="n_nonneg"):
            commit_snapshot(spark, bad, path, mode="append")  # inherited
        assert snapshot_versions(spark, path) == [1]
        assert read_snapshot(spark, path).count() == 2
        # merge enforces the recorded checks on the delta too
        with pytest.raises(ValueError, match="n_nonneg"):
            merge_snapshot(spark, bad.withColumnRenamed("n", "n"), path, "k")
        assert snapshot_versions(spark, path) == [1]
        # a clean append still lands and carries the checks forward
        commit_snapshot(
            spark,
            spark.createDataFrame([(4, 7)], "k long, n long"),
            path,
            mode="append",
        )
        assert read_snapshot(spark, path).count() == 3

    def test_retry_commit_recomputes_against_new_head(
        self, spark, tmp_path, monkeypatch
    ):
        """Optimistic-concurrency retry: a MERGE that loses the manifest
        rename race retries, re-reads the winner's head, and lands its
        delta WITHOUT losing the winner's rows."""
        from aie321_bigdata_movie_kpi_1m_spark.sources import snapshots

        path = str(tmp_path / "layer")
        snapshots.commit_snapshot(
            spark,
            spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
            path,
            stats_cols=["k"],
        )
        orig = snapshots._write_text
        state = {"raced": False}

        def racing_write(sp, p, text):
            # first attempt to write v2: let a racer append k=777 first,
            # so OUR write loses the rename race exactly once
            if p.endswith("v2.json") and not state["raced"]:
                state["raced"] = True
                monkeypatch.setattr(snapshots, "_write_text", orig)
                snapshots.commit_snapshot(
                    spark,
                    spark.createDataFrame([(777, "racer")], "k long, v string"),
                    path,
                    mode="append",
                )
                monkeypatch.setattr(snapshots, "_write_text", racing_write)
            return orig(sp, p, text)

        monkeypatch.setattr(snapshots, "_write_text", racing_write)
        res = snapshots.retry_commit(
            lambda: snapshots.merge_snapshot(
                spark,
                spark.createDataFrame([(2, "B2")], "k long, v string"),
                path,
                "k",
            ),
            attempts=3,
        )
        monkeypatch.setattr(snapshots, "_write_text", orig)
        assert res["version"] == 3  # recomputed against the racer's head
        got = {
            r["k"]: r["v"]
            for r in snapshots.read_snapshot(spark, path).collect()
        }
        assert got == {1: "a", 2: "B2", 777: "racer"}

    def test_retry_commit_exhausts(self, spark, tmp_path, monkeypatch):
        import pytest

        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            retry_commit,
        )

        calls = {"n": 0}

        def always_lose():
            calls["n"] += 1
            raise FileExistsError("lost")

        with pytest.raises(FileExistsError):
            retry_commit(always_lose, attempts=3)
        assert calls["n"] == 3


class TestRestoreClone:
    def test_restore_is_a_new_commit_preserving_txn(self, spark, tmp_path):
        """RESTORE makes head content equal an old version via a new
        manifest (zero data movement, history intact); txn high-water
        marks come from the CURRENT head so replayed batches still
        no-op; restoring a vacuumed version fails up front."""
        import pytest

        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            read_snapshot,
            restore_snapshot,
            snapshot_history,
            snapshot_versions,
            vacuum_snapshots,
        )

        path = str(tmp_path / "layer")
        commit_snapshot(
            spark,
            spark.range(0, 100).selectExpr("id AS k").coalesce(1),
            path,
            txn=("app", 1),
        )
        commit_snapshot(
            spark,
            spark.range(0, 10).selectExpr("id AS k").coalesce(1),
            path,
            txn=("app", 2),
        )
        v3 = restore_snapshot(spark, path, 1)
        assert v3 == 3 and read_snapshot(spark, path).count() == 100
        hist = {r["version"]: r["mode"] for r in snapshot_history(spark, path).collect()}
        assert hist[3] == "restore" and hist[2] == "overwrite"
        # a replayed post-restore batch id must STILL no-op
        head = commit_snapshot(
            spark,
            spark.range(0, 5).selectExpr("id AS k"),
            path,
            mode="append",
            txn=("app", 2),
        )
        assert head == 3  # replay recognized, nothing committed
        # vacuum v1+v2's files, then restoring v2 fails loudly
        vacuum_snapshots(spark, path, keep_last=1, orphan_grace_seconds=0)
        with pytest.raises(FileNotFoundError, match="vacuumed"):
            restore_snapshot(spark, path, 2)

    def test_shallow_clone_is_zero_copy_and_independent(self, spark, tmp_path):
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            _manifest,
            clone_snapshot,
            commit_snapshot,
            delete_snapshot,
            merge_snapshot,
            read_snapshot,
            snapshot_files,
        )

        src = str(tmp_path / "src")
        dst = str(tmp_path / "clone")
        commit_snapshot(
            spark,
            spark.range(0, 100).selectExpr("id AS k", "id AS v")
            .repartitionByRange(4, "k"),
            src,
            stats_cols=["k"],
        )
        delete_snapshot(spark, src, "k = 7")  # clone must carry the DV
        clone_snapshot(spark, src, dst)
        # zero-copy: the clone's v1 plans over the SOURCE's files
        assert snapshot_files(spark, dst) == snapshot_files(spark, src)
        assert read_snapshot(spark, dst).count() == 99
        # divergence: merge on the clone rewrites INTO the clone only
        merge_snapshot(
            spark,
            spark.createDataFrame([(7, 777)], "k long, v long"),
            dst,
            "k",
            stats_cols=["k"],
        )
        assert read_snapshot(spark, dst).filter("k = 7").first()["v"] == 777
        assert read_snapshot(spark, src).filter("k = 7").count() == 0
        # source files untouched; clone's new file lives under the clone
        m = _manifest(spark, dst, 2)
        assert any(dst in f for f in m["files"])
        assert read_snapshot(spark, src).count() == 99


class TestVacuumDryRun:
    def test_dry_run_reports_without_deleting(self, spark, tmp_path):
        """VACUUM DRY RUN: reports exactly what the real run would drop
        (versions + file counts) while leaving every manifest and data
        file in place; the subsequent real run deletes precisely that."""
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            read_snapshot,
            snapshot_versions,
            vacuum_snapshots,
        )

        path = str(tmp_path / "layer")
        for i in range(3):
            commit_snapshot(
                spark,
                spark.range(i * 10, i * 10 + 10).selectExpr("id AS k").coalesce(1),
                path,
            )
        dry = vacuum_snapshots(
            spark, path, keep_last=1, orphan_grace_seconds=0, dry_run=True
        )
        assert dry["dry_run"] and dry["dropped_versions"] == [1, 2]
        assert dry["deleted_files"] == 2
        # nothing actually happened: all versions still readable
        assert snapshot_versions(spark, path) == [1, 2, 3]
        assert read_snapshot(spark, path, 1).count() == 10
        real = vacuum_snapshots(
            spark, path, keep_last=1, orphan_grace_seconds=0
        )
        assert not real["dry_run"]
        assert real["dropped_versions"] == dry["dropped_versions"]
        assert real["deleted_files"] == dry["deleted_files"]
        assert snapshot_versions(spark, path) == [3]


class TestAppendDelta:
    def test_manifest_diff_delta_and_guards(self, spark, tmp_path):
        """snapshot_append_delta reads exactly the appended rows from
        the manifest file diff; refuses non-append ranges and ranges
        whose deletion vectors changed."""
        import pytest

        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            delete_snapshot,
            snapshot_append_delta,
        )

        path = str(tmp_path / "layer")
        commit_snapshot(
            spark, spark.range(0, 50).selectExpr("id AS k").coalesce(1), path
        )
        commit_snapshot(
            spark,
            spark.range(50, 80).selectExpr("id AS k").coalesce(1),
            path,
            mode="append",
        )
        delta = snapshot_append_delta(spark, path, 1, 2)
        assert sorted(r["k"] for r in delta.collect()) == list(range(50, 80))
        # empty range: typed empty frame
        assert snapshot_append_delta(spark, path, 2, 2).count() == 0
        # a delete in the range breaks the append-only contract
        delete_snapshot(spark, path, "k = 0")
        with pytest.raises(ValueError, match="snapshot_changes"):
            snapshot_append_delta(spark, path, 1, 3)
        # overwrite breaks it too
        commit_snapshot(
            spark, spark.range(5).selectExpr("id AS k"), path
        )
        with pytest.raises(ValueError, match="not 'append'"):
            snapshot_append_delta(spark, path, 3, 4)


class TestSnapshotStreamSource:
    def test_checkpointed_incremental_consumption(self, spark, tmp_path):
        """The layer as a stream source: first availableNow run serves
        the full head; after two more appends, a restart from the SAME
        checkpoint serves ONLY the newly committed rows."""
        from aie321_bigdata_movie_kpi_1m_spark.sources.pyds import (
            register_snapshot_stream,
            snapshot_stream_schema,
        )
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
        )

        register_snapshot_stream(spark)
        path = str(tmp_path / "layer")
        ckpt = str(tmp_path / "ckpt")
        commit_snapshot(
            spark,
            spark.range(0, 50).selectExpr("id AS k").coalesce(2),
            path,
        )

        def run(batches):
            q = (
                spark.readStream.format("snapshot_stream")
                .schema(snapshot_stream_schema(path, "k"))
                .option("path", path)
                .option("cols", "k")
                .load()
                .writeStream.foreachBatch(
                    lambda df, bid: batches.append(
                        sorted(r["k"] for r in df.collect())
                    )
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        first: list = []
        run(first)
        assert sorted(sum(first, [])) == list(range(50))
        for lo in (50, 70):
            commit_snapshot(
                spark,
                spark.range(lo, lo + 20).selectExpr("id AS k").coalesce(1),
                path,
                mode="append",
            )
        second: list = []
        run(second)
        assert sorted(sum(second, [])) == list(range(50, 90))  # delta only

    def test_stream_refuses_non_append_and_dv_ranges(self, spark, tmp_path):
        from aie321_bigdata_movie_kpi_1m_spark.sources.pyds import (
            _SnapshotStreamReader,
        )
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            delete_snapshot,
        )

        import pytest

        path = str(tmp_path / "layer")
        commit_snapshot(
            spark, spark.range(10).selectExpr("id AS k").coalesce(1), path
        )
        delete_snapshot(spark, path, "k = 3")
        r = _SnapshotStreamReader({"path": path, "cols": "k"})
        # a delete version trips the mode guard (its mode is 'delete');
        # either wording is the correct refusal
        with pytest.raises(ValueError, match="append-only|deletion vectors"):
            r.partitions({"version": 1}, {"version": 2})
        commit_snapshot(
            spark, spark.range(5).selectExpr("id AS k").coalesce(1), path
        )
        with pytest.raises(ValueError, match="append-only"):
            r.partitions({"version": 2}, {"version": 3})


class TestSnapshotView:
    def test_sql_facade_pins_version_and_sees_deletes(self, spark, tmp_path):
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            delete_snapshot,
            register_snapshot_view,
        )

        path = str(tmp_path / "layer")
        commit_snapshot(
            spark,
            spark.range(0, 100).selectExpr("id AS k").coalesce(1),
            path,
        )
        delete_snapshot(spark, path, "k < 10")
        register_snapshot_view(spark, path, "snap_head")
        register_snapshot_view(spark, path, "snap_v1", version=1)
        assert spark.sql("SELECT COUNT(*) n FROM snap_head").first()["n"] == 90
        assert spark.sql(
            "SELECT COUNT(*) n FROM snap_v1 WHERE k < 10"
        ).first()["n"] == 10
        # full SQL surface composes over the MoR read
        j = spark.sql(
            "SELECT COUNT(*) n FROM snap_head a JOIN snap_v1 b ON a.k = b.k"
        ).first()["n"]
        assert j == 90


class TestAdviceRound5Fixes:
    """Regression pins for the round-5 ADVICE findings: invariants a
    maintenance rewrite must not drop, re-type guards on MERGE, bloom
    parameters recorded per layer, single-resolution reads, and a
    bootstrap race that must not kill a streaming upsert."""

    def test_rewrite_preserves_checks_and_bloom(self, spark, tmp_path):
        import pytest

        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            _manifest,
            commit_snapshot,
            rewrite_snapshot,
            snapshot_files,
        )

        path = str(tmp_path / "layer")
        commit_snapshot(
            spark,
            spark.range(0, 200).selectExpr("id AS k").repartition(4),
            path,
            bloom_col="k",
            checks={"k_nonneg": "k >= 0"},
        )
        rewrite_snapshot(spark, path, n_files=2)
        m = _manifest(spark, path, 2)
        # an OPTIMIZE-style rewrite keeps the table's invariants + index
        assert m.get("checks") == {"k_nonneg": "k >= 0"}
        assert m.get("bloom_col") == "k"
        # bloom index was recomputed over the rewritten files and probes
        kept = snapshot_files(spark, path, 2, prune_point=("k", 5))
        assert 1 <= len(kept) <= 2
        # later appends still enforce the carried CHECK
        with pytest.raises(ValueError, match="CHECK constraint"):
            commit_snapshot(
                spark,
                spark.createDataFrame([(-1,)], "k long"),
                path,
                mode="append",
            )

    def test_merge_rejects_retyped_column(self, spark, tmp_path):
        import pytest

        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            merge_snapshot,
        )

        path = str(tmp_path / "layer")
        commit_snapshot(
            spark,
            spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
            path,
            stats_cols=["k"],
        )
        retyped = spark.createDataFrame([(1, 99.5)], "k long, v double")
        with pytest.raises(ValueError, match="re-types column"):
            merge_snapshot(spark, retyped, path, "k")

    def test_bloom_params_recorded_and_used_at_probe(
        self, spark, tmp_path, monkeypatch
    ):
        from pyspark.sql import functions as F

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        snap.commit_snapshot(
            spark,
            spark.range(0, 400).selectExpr("id AS k").repartition(4),
            path,
            bloom_col="k",
        )
        m = snap._manifest(spark, path, 1)
        assert (m["bloom_m"], m["bloom_k"]) == (
            snap._BLOOM_BITS,
            snap._BLOOM_HASHES,
        )
        # simulate a FUTURE build changing the module constants: probes
        # of the existing layer must use the layer's RECORDED (m, k) —
        # with the old behavior the probe would compute wrong positions
        # and silently skip files that contain the value
        monkeypatch.setattr(snap, "_BLOOM_BITS", 1024)
        monkeypatch.setattr(snap, "_BLOOM_HASHES", 7)
        for probe in (3, 123, 399):
            kept = snap.snapshot_files(spark, path, prune_point=("k", probe))
            got = sorted(
                r["k"]
                for r in spark.read.parquet(*kept)
                .where(F.col("k") == probe)
                .collect()
            )
            assert got == [probe]
        # and an APPEND to the layer keeps the recorded params, so old
        # and new bloom entries stay mutually probe-compatible
        snap.commit_snapshot(
            spark,
            spark.range(400, 500).selectExpr("id AS k"),
            path,
            mode="append",
            bloom_col="k",
        )
        m2 = snap._manifest(spark, path, 2)
        assert (m2["bloom_m"], m2["bloom_k"]) == (m["bloom_m"], m["bloom_k"])
        kept = snap.snapshot_files(spark, path, prune_point=("k", 450))
        vals = {
            r["k"]
            for r in spark.read.parquet(*kept)
            .where(F.col("k") == 450)
            .collect()
        }
        assert vals == {450}

    def test_read_snapshot_resolves_head_once(
        self, spark, tmp_path, monkeypatch
    ):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        snap.commit_snapshot(
            spark, spark.range(0, 50).selectExpr("id AS k").coalesce(1), path
        )
        snap.delete_snapshot(spark, path, "k < 10")

        # simulate a commit landing MID-READ: the first head resolution
        # sees v1, later resolutions see v2.  A torn read would combine
        # v1's file list with v2's delete entries (40 rows); the fixed
        # single-resolution read returns exactly v1's 50 rows.
        real = snap.snapshot_versions
        calls = {"n": 0}

        def racing(spark_, path_):
            calls["n"] += 1
            out = real(spark_, path_)
            return out[:1] if calls["n"] == 1 else out

        monkeypatch.setattr(snap, "snapshot_versions", racing)
        assert snap.read_snapshot(spark, path).count() == 50

    def test_upsert_bootstrap_race_falls_back_to_merge(
        self, spark, tmp_path, monkeypatch
    ):
        import aie321_bigdata_movie_kpi_1m_spark.streaming.snapshot_sink as sink
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            commit_snapshot,
            read_snapshot,
            snapshot_versions,
        )

        path = str(tmp_path / "layer")
        # a RACING writer bootstraps the layer between this writer's
        # emptiness check and its commit: make the sink's first
        # emptiness check lie (return []), so its bootstrap commit loses
        # the v1 rename race — the retry must re-read the head and MERGE
        # instead of killing the query with FileExistsError
        commit_snapshot(
            spark,
            spark.createDataFrame([(1, "old"), (2, "old")], "k long, v string"),
            path,
            stats_cols=["k"],
        )
        calls = {"n": 0}

        def lying(spark_, path_):
            calls["n"] += 1
            return [] if calls["n"] == 1 else snapshot_versions(spark_, path_)

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        monkeypatch.setattr(snap, "snapshot_versions", lying)
        # writer created UNDER the patch so its closure binds the lying
        # emptiness check; snapshots-internal calls see it too
        write_batch = sink.snapshot_upsert_writer(path, "k", app_id="t")
        try:
            write_batch(
                spark.createDataFrame([(2, "new"), (3, "new")], "k long, v string"),
                0,
            )
        finally:
            monkeypatch.undo()
        got = {
            (r["k"], r["v"]) for r in read_snapshot(spark, path).collect()
        }
        assert got == {(1, "old"), (2, "new"), (3, "new")}


class TestManifestSegmentation:
    """Format-2 manifests: the Iceberg manifest-list idea.  Planning must
    be O(pruned segments) — measured by counting actual segment-file
    reads — and appends/deletes must carry segment entries by reference
    (O(delta) manifest writes)."""

    def _clustered(self, spark, path, monkeypatch, snap, n=16):
        monkeypatch.setattr(snap, "_SEGMENT_MAX_FILES", 4)
        snap.commit_snapshot(
            spark,
            spark.range(0, 1600)
            .selectExpr("id AS k", "id % 7 AS v")
            .repartitionByRange(n, "k"),
            path,
            stats_cols=["k"],
        )

    def test_as_of_resolution_reads_no_segment(self, spark, tmp_path):
        """TIMESTAMP AS OF resolves from each manifest's ``committed_at``
        alone: no segment file is consulted, however many versions."""
        import time as _time

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        for i in range(6):
            snap.commit_snapshot(
                spark, spark.createDataFrame([(i,)], "k long"), path,
                mode="append" if i else "overwrite",
            )
        snap._SEGMENT_READS["n"] = 0
        assert snap.snapshot_version_as_of(spark, path, _time.time()) == 6
        assert snap._SEGMENT_READS["n"] == 0

    def test_pruned_planning_reads_one_segment(
        self, spark, tmp_path, monkeypatch
    ):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        self._clustered(spark, path, monkeypatch, snap)
        raw = snap._manifest_raw(spark, path, 1)
        assert raw["format"] == 2 and "files" not in raw
        assert len(raw["segments"]) == 4
        assert all(e["n_files"] == 4 for e in raw["segments"])
        # a narrow range must load exactly ONE segment file — planning
        # is O(pruned segments), not O(all files)
        snap._SEGMENT_READS["n"] = 0
        kept = snap.snapshot_files(spark, path, prune_range=("k", 10, 20))
        assert snap._SEGMENT_READS["n"] == 1
        assert 1 <= len(kept) <= 2
        got = sorted(
            r["k"]
            for r in snap.read_snapshot(
                spark, path, prune_range=("k", 10, 20)
            )
            .where("k BETWEEN 10 AND 20")
            .collect()
        )
        assert got == list(range(10, 21))

    def test_append_and_delta_are_segment_o_delta(
        self, spark, tmp_path, monkeypatch
    ):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        self._clustered(spark, path, monkeypatch, snap)
        v1_entries = snap._manifest_raw(spark, path, 1)["segments"]
        snap.commit_snapshot(
            spark,
            spark.range(1600, 1700).selectExpr("id AS k", "id % 7 AS v"),
            path,
            mode="append",
            stats_cols=["k"],
        )
        raw2 = snap._manifest_raw(spark, path, 2)
        # the head's entries carried BY REFERENCE, verbatim
        assert raw2["segments"][: len(v1_entries)] == v1_entries
        new = raw2["segments"][len(v1_entries) :]
        assert new and all("/segments/v2-" in e["path"] for e in new)
        # the append delta loads ONLY the new segments
        snap._SEGMENT_READS["n"] = 0
        delta = snap.snapshot_append_delta(spark, path, 1, 2)
        assert snap._SEGMENT_READS["n"] == len(new)
        assert delta.count() == 100

    def test_row_count_minmax_history_zero_segment_reads(
        self, spark, tmp_path, monkeypatch
    ):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        self._clustered(spark, path, monkeypatch, snap)
        snap.delete_snapshot(spark, path, "k < 100")
        snap._SEGMENT_READS["n"] = 0
        assert snap.snapshot_row_count(spark, path) == 1500
        assert snap.snapshot_minmax(spark, path, "k", version=1) == (0, 1599)
        hist = snap.snapshot_history(spark, path)
        assert snap._SEGMENT_READS["n"] == 0
        rows = {r["version"]: r for r in hist.collect()}
        assert rows[1]["n_files"] == 16 and rows[2]["n_rows"] == 1500

    def test_merge_loads_only_candidate_segments(
        self, spark, tmp_path, monkeypatch
    ):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        self._clustered(spark, path, monkeypatch, snap)
        v1_entries = snap._manifest_raw(spark, path, 1)["segments"]
        delta = spark.createDataFrame(
            [(5, 999), (7, 999)], "k long, v long"
        )
        snap._SEGMENT_READS["n"] = 0
        rep = snap.merge_snapshot(spark, delta, path, "k", stats_cols=["k"])
        # only the ONE segment whose key range covers the delta was read
        assert snap._SEGMENT_READS["n"] == 1
        assert rep["files_rewritten"] == 1 and rep["files_carried"] == 15
        raw2 = snap._manifest_raw(spark, path, 2)
        # the 3 out-of-range segments carried verbatim by reference
        carried = [e for e in raw2["segments"] if e in v1_entries]
        assert len(carried) == 3
        got = {
            r["k"]: r["v"]
            for r in snap.read_snapshot(spark, path)
            .where("k IN (4, 5, 7)")
            .collect()
        }
        assert got == {4: 4 % 7, 5: 999, 7: 999}

    def test_inline_manifest_is_refused(self, spark, tmp_path, monkeypatch):
        """Segmented manifests are the only layout: a hand-made inline
        (format-1) manifest has no ``segments``, so every reader and
        writer must refuse it by path instead of reading an empty
        table."""
        import json
        import os

        from pyspark.errors import AnalysisException

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshot_batch import (
            plan_snapshot_scan,
            read_snapshot_pushdown,
        )

        path = str(tmp_path / "layer")
        self._clustered(spark, path, monkeypatch, snap, n=4)
        # rewrite v1.json as an inline manifest from the materialized view
        m = snap._manifest(spark, path, 1)
        legacy = {
            k: m[k]
            for k in (
                "version",
                "committed_at",
                "mode",
                "files",
                "stats",
                "counts",
                "blooms",
                "schema",
                "checks",
                "txn",
            )
        }
        mpath = os.path.join(path, "_manifests", "v1.json")
        os.remove(mpath)
        crc = os.path.join(path, "_manifests", ".v1.json.crc")
        if os.path.exists(crc):  # Hadoop local-FS checksum sidecar
            os.remove(crc)
        with open(mpath, "w") as fh:
            json.dump(legacy, fh, default=str)
        refused = "v1.json: manifest format None is not supported"
        with pytest.raises(ValueError, match=refused):
            snap.read_snapshot(spark, path)
        with pytest.raises(ValueError, match=refused):
            snap.snapshot_row_count(spark, path)
        with pytest.raises(ValueError, match=refused):
            snap.snapshot_files(spark, path, prune_range=("k", 0, 10))
        with pytest.raises(ValueError, match=refused):
            snap.commit_snapshot(
                spark,
                spark.range(1600, 1650).selectExpr("id AS k", "id % 7 AS v"),
                path,
                mode="append",
                stats_cols=["k"],
            )
        assert snap.snapshot_versions(spark, path) == [1]
        with pytest.raises(ValueError, match=refused):
            plan_snapshot_scan(path, None, [])
        # the DataSource raises in its Python worker; Spark re-raises the
        # worker's ValueError inside an AnalysisException
        with pytest.raises(AnalysisException, match=f"ValueError: .*{refused}"):
            read_snapshot_pushdown(spark, path).where("k < 10").collect()


class TestEqualityDeletes:
    """Key-equality MoR deletes (Iceberg v2 second flavor): O(keys)
    metadata writes, zero data reads at delete time, scoped application
    at read time, folded back to exactness by compaction."""

    def _layer(self, spark, path, snap):
        snap.commit_snapshot(
            spark,
            spark.range(0, 800)
            .selectExpr("id AS k", "CAST(id % 5 AS STRING) AS v")
            .repartitionByRange(8, "k"),
            path,
            stats_cols=["k"],
        )

    def test_delete_by_key_scopes_and_reads_no_data(self, spark, tmp_path):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        self._layer(spark, path, snap)
        rep = snap.delete_snapshot_keys(spark, path, "k", [3, 5, 7, 750])
        assert rep["version"] == 2 and rep["n_keys"] == 4
        # touch scope resolved from manifest stats: the narrow key set
        # hits 2 of the 8 range-clustered files, not the whole layer
        assert rep["files_in_scope"] == 2
        got = sorted(
            r["k"]
            for r in snap.read_snapshot(spark, path)
            .where("k < 10 OR k > 745")
            .collect()
        )
        assert got == [0, 1, 2, 4, 6, 8, 9, 746, 747, 748, 749] + list(
            range(751, 800)
        )
        assert snap.read_snapshot(spark, path).count() == 796
        # match count unknown without a scan -> metadata count honest
        assert snap.snapshot_row_count(spark, path) is None
        # time travel to v1 unaffected
        assert snap.read_snapshot(spark, path, 1).count() == 800

    def test_no_resurrect_append_and_merge_fold(self, spark, tmp_path):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        self._layer(spark, path, snap)
        snap.delete_snapshot_keys(spark, path, "k", [10, 11])
        # a LATER append re-inserting key 10 is outside the delete's
        # scope: the new row must survive
        snap.commit_snapshot(
            spark,
            spark.createDataFrame([(10, "reborn")], "k long, v string"),
            path,
            mode="append",
            stats_cols=["k"],
        )
        got = {
            (r["k"], r["v"])
            for r in snap.read_snapshot(spark, path)
            .where("k IN (10, 11)")
            .collect()
        }
        assert got == {(10, "reborn")}
        # a MERGE rewriting the touched band folds the equality delete
        # into the rewrite: the entry disappears for rewritten files and
        # deleted rows stay gone
        rep = snap.merge_snapshot(
            spark,
            spark.createDataFrame([(12, "merged")], "k long, v string"),
            path,
            "k",
            stats_cols=["k"],
        )
        assert rep["files_rewritten"] >= 1
        got = sorted(
            r["k"]
            for r in snap.read_snapshot(spark, path)
            .where("k BETWEEN 9 AND 13")
            .collect()
        )
        assert got == [9, 10, 12, 13]  # 11 still deleted, 10 reborn

    def test_compaction_restores_metadata_count(self, spark, tmp_path):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        self._layer(spark, path, snap)
        snap.delete_snapshot_keys(spark, path, "k", list(range(0, 50)))
        assert snap.snapshot_row_count(spark, path) is None
        snap.rewrite_snapshot(spark, path, n_files=4)
        # the full rewrite folded the equality delete: counts exact again
        assert snap.snapshot_row_count(spark, path) == 750
        assert snap.read_snapshot(spark, path).count() == 750

    def test_composes_with_position_deletes(self, spark, tmp_path):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        self._layer(spark, path, snap)
        snap.delete_snapshot(spark, path, "k BETWEEN 100 AND 109")
        snap.delete_snapshot_keys(spark, path, "k", [105, 200, 201])
        # position deletes applied, equality deletes applied, overlap
        # (105) deleted exactly once
        assert snap.read_snapshot(spark, path).count() == 800 - 10 - 2
        # a position DELETE issued on top of live equality deletes must
        # not re-mark already-equality-deleted rows
        rep = snap.delete_snapshot(spark, path, "k BETWEEN 198 AND 203")
        assert rep["rows_deleted"] == 4  # 198 199 202 203
        assert snap.read_snapshot(spark, path).count() == 800 - 10 - 2 - 4

    def test_noop_and_null_keys(self, spark, tmp_path):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        self._layer(spark, path, snap)
        # keys entirely outside every file's range: no commit at all
        rep = snap.delete_snapshot_keys(spark, path, "k", [10_000, 20_000])
        assert rep == {"version": 1, "n_keys": 0, "files_in_scope": 0}
        rep = snap.delete_snapshot_keys(spark, path, "k", [None])
        assert rep["files_in_scope"] == 0
        assert snap.snapshot_versions(spark, path) == [1]

    def test_keys_dataframe_never_crosses_driver(self, spark, tmp_path):
        """The DataFrame overload: identical delete semantics to the
        list path, but the key set is written to the sidecar FROM THE
        EXECUTORS — the driver sees a 3-scalar envelope, never the
        keys (counter-pinned)."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        self._layer(spark, path, snap)
        keys_df = spark.range(0, 800).selectExpr("id AS k").filter(
            "k % 7 = 0 AND k BETWEEN 3 AND 60"
        )
        base = snap._EQ_DELETE_DRIVER_KEYS["n"]
        rep = snap.delete_snapshot_keys(spark, path, "k", keys_df)
        assert snap._EQ_DELETE_DRIVER_KEYS["n"] == base  # zero keys hopped
        assert rep["version"] == 2 and rep["n_keys"] == 8  # 7, 14, ..., 56
        # scope resolved from stats: the [7, 56] envelope hits 1 of 8
        # range-clustered files
        assert rep["files_in_scope"] == 1
        got = sorted(
            r["k"]
            for r in snap.read_snapshot(spark, path).where("k < 60").collect()
        )
        assert got == [k for k in range(60) if not (k % 7 == 0 and k >= 3)]
        # the list path DOES count its driver-side keys (the probe shape)
        snap.delete_snapshot_keys(spark, path, "k", [100, 101])
        assert snap._EQ_DELETE_DRIVER_KEYS["n"] == base + 2

    def test_keys_dataframe_nulls_dups_and_casts(self, spark, tmp_path):
        """NULL keys never match, duplicate keys fold, and a key column
        of a compatible-but-different type casts to the layer's."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        self._layer(spark, path, snap)
        keys_df = spark.createDataFrame(
            [(5,), (5,), (None,), (6,)], "k int"  # layer's k is long
        )
        rep = snap.delete_snapshot_keys(spark, path, "k", keys_df)
        assert rep["n_keys"] == 2
        assert snap.read_snapshot(spark, path).count() == 798
        # all-NULL / empty key frames: no commit at all
        rep = snap.delete_snapshot_keys(
            spark, path, "k", spark.createDataFrame([(None,)], "k int")
        )
        assert rep["files_in_scope"] == 0
        import pytest

        with pytest.raises(ValueError, match="lacks key column"):
            snap.delete_snapshot_keys(
                spark, path, "k", spark.range(3).selectExpr("id AS wrong")
            )


class TestEqualityDeleteCDF:
    """CDF change files for equality-delete commits (VERDICT r7 #3):
    the delete commit records a KEY-ONLY change source (zero data
    reads preserved); pre-images materialize lazily on first CDF read
    over the stats-scoped touched files — O(touched) once, cached —
    and the feed / IVM / streaming tail stay O(delta) across the
    version."""

    def _cdf_layer(self, spark, path, snap):
        snap.commit_snapshot(
            spark,
            spark.range(0, 800)
            .selectExpr("id AS k", "CAST(id % 5 AS STRING) AS v")
            .repartitionByRange(8, "k"),
            path,
            stats_cols=["k"],
            change_feed=True,
        )

    def test_lazy_preimage_exact_and_cached(self, spark, tmp_path):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        self._cdf_layer(spark, path, snap)
        snap.delete_snapshot_keys(
            spark,
            path,
            "k",
            spark.createDataFrame([(3,), (5,), (750,)], "k long"),
        )
        fall = snap._CDF_FALLBACKS["n"]
        builds = snap._EQ_PREIMAGE_BUILDS["n"]
        rows = sorted(
            (r["change_type"], r["k"], r["v"])
            for r in snap.snapshot_changes(spark, path, 1, 2).collect()
        )
        assert rows == [
            ("delete", 3, "3"),
            ("delete", 5, "0"),
            ("delete", 750, "0"),
        ]
        assert snap._CDF_FALLBACKS["n"] == fall  # zero table diffs
        assert snap._EQ_PREIMAGE_BUILDS["n"] == builds + 1
        # second read serves the cache: no re-materialization
        assert snap.snapshot_changes(spark, path, 1, 2).count() == 3
        assert snap._EQ_PREIMAGE_BUILDS["n"] == builds + 1

    def test_preimage_respects_prior_deletes(self, spark, tmp_path):
        """A row already deleted (position OR equality) before the
        equality commit was not deleted BY it — its pre-image must not
        appear in the step's feed."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        self._cdf_layer(spark, path, snap)
        snap.delete_snapshot(spark, path, "k = 5")  # v2: position
        snap.delete_snapshot_keys(spark, path, "k", [6])  # v3: equality
        # v4: equality delete of {5, 6, 7} — 5 and 6 are ALREADY gone
        snap.delete_snapshot_keys(spark, path, "k", [5, 6, 7])
        fall = snap._CDF_FALLBACKS["n"]
        rows = {
            (r["change_type"], r["k"])
            for r in snap.snapshot_changes(spark, path, 3, 4).collect()
        }
        assert rows == {("delete", 7)}
        assert snap._CDF_FALLBACKS["n"] == fall
        # the whole chain folds to the endpoint diff
        inc = {
            (r["change_type"], r["k"])
            for r in snap.snapshot_changes(spark, path, 1, 4).collect()
        }
        assert inc == {("delete", 5), ("delete", 6), ("delete", 7)}

    def test_chain_with_merge_append_equality(self, spark, tmp_path):
        """merge + append + equality-delete chained: zero fallbacks and
        the signed fold equals the generic endpoint diff."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        self._cdf_layer(spark, path, snap)
        snap.merge_snapshot(
            spark,
            spark.createDataFrame([(10, "X")], "k long, v string"),
            path,
            "k",
            stats_cols=["k"],
        )
        snap.commit_snapshot(
            spark,
            spark.createDataFrame([(900, "A")], "k long, v string"),
            path,
            mode="append",
            stats_cols=["k"],
        )
        snap.delete_snapshot_keys(spark, path, "k", [10, 900])
        fall = snap._CDF_FALLBACKS["n"]
        inc = sorted(
            (r["change_type"], r["k"], r["v"])
            for r in snap.snapshot_changes(spark, path, 1, 4).collect()
        )
        assert snap._CDF_FALLBACKS["n"] == fall
        gen = sorted(
            (r["change_type"], r["k"], r["v"])
            for r in snap.snapshot_changes(
                spark, path, 1, 4, force_generic=True
            ).collect()
        )
        # fold signed: insert(10,X)+delete(10,X) cancel; delete(900,A)
        # cancels its own append-insert
        from collections import Counter

        fold = Counter()
        for ct, k, v in inc:
            fold[(k, v)] += 1 if ct == "insert" else -1
        gfold = Counter()
        for ct, k, v in gen:
            gfold[(k, v)] += 1 if ct == "insert" else -1
        assert {kv: n for kv, n in fold.items() if n} == {
            kv: n for kv, n in gfold.items() if n
        }
        assert ("delete", 10, "0") in inc  # the merge's own update pair
        assert ("delete", 900, "A") in inc  # lazy pre-image of the append

    def test_cdf_stream_tails_equality_delete(self, spark, tmp_path):
        """The mode=cdf STREAM consumes an equality-delete version:
        touched files reconstruct executor-side (no cache present), and
        a restart AFTER a batch materialized the cache reads the cache
        — both yield the exact feed."""
        import shutil

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        from aie321_bigdata_movie_kpi_1m_spark.sources.pyds import (
            register_snapshot_stream,
            snapshot_cdf_stream_schema,
        )

        path = str(tmp_path / "layer")
        self._cdf_layer(spark, path, snap)
        snap.delete_snapshot_keys(spark, path, "k", [3, 5, 750])
        register_snapshot_stream(spark)

        def _tail(ck):
            stream = (
                spark.readStream.format("snapshot_stream")
                .schema(snapshot_cdf_stream_schema(path, "k,v"))
                .option("path", path)
                .option("cols", "k,v")
                .option("mode", "cdf")
                .load()
            )
            q = (
                stream.writeStream.format("memory")
                .queryName(f"eqtail_{ck}")
                .outputMode("append")
                .option("checkpointLocation", str(tmp_path / ck))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return {
                (r["change_type"], r["k"], r["v"])
                for r in spark.sql(f"SELECT * FROM eqtail_{ck}").collect()
            }

        expect = {("insert", k, str(k % 5)) for k in range(800)} | {
            ("delete", 3, "3"),
            ("delete", 5, "0"),
            ("delete", 750, "0"),
        }
        got = _tail("ck1")  # no cache yet: executor-side reconstruction
        assert got == expect
        # a batch CDF read materializes the cache; a fresh tail must
        # serve the SAME feed from it
        snap.snapshot_changes(spark, path, 1, 2).count()
        shutil.rmtree(str(tmp_path / "ck1"), ignore_errors=True)
        got = _tail("ck2")
        assert got == expect

    def test_vacuum_keeps_live_preimage_cache(self, spark, tmp_path):
        """The materialized pre-image cache is referenced by its
        version's manifest ``changes`` entry: vacuum keeps it while the
        version survives retention, and the feed over the surviving
        range still reads O(delta) afterwards."""
        import os

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        self._cdf_layer(spark, path, snap)
        snap.delete_snapshot_keys(spark, path, "k", [3, 5])  # v2
        snap.commit_snapshot(
            spark,
            spark.createDataFrame([(900, "A")], "k long, v string"),
            path,
            mode="append",
        )  # v3
        assert snap.snapshot_changes(spark, path, 1, 2).count() == 2
        cache = os.path.join(path, "_changes", "v2-eqpre")
        assert os.path.isdir(cache)
        rep = snap.vacuum_snapshots(
            spark, path, keep_last=3, orphan_grace_seconds=0
        )
        assert rep["dropped_versions"] == []
        assert os.path.isdir(cache)  # manifest-referenced: kept
        fall = snap._CDF_FALLBACKS["n"]
        builds = snap._EQ_PREIMAGE_BUILDS["n"]
        assert snap.snapshot_changes(spark, path, 1, 3).count() == 3
        assert snap._CDF_FALLBACKS["n"] == fall
        assert snap._EQ_PREIMAGE_BUILDS["n"] == builds  # cache served
        # retention dropping v1+v2 GCs the cache with its version
        snap.vacuum_snapshots(
            spark, path, keep_last=1, orphan_grace_seconds=0
        )
        assert not os.path.isdir(cache)

    def test_cdc_equality_mode_zero_driver_keys_and_tailable(
        self, spark, tmp_path
    ):
        """The streaming CDC sink in (default) equality mode: delete
        keys ship as a DataFrame (zero driver-side keys, counter
        pinned), and on a change-feed layer the WHOLE CDC-maintained
        lifecycle stays consumable by the O(delta) feed."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        from aie321_bigdata_movie_kpi_1m_spark.streaming.snapshot_sink import (
            snapshot_cdc_writer,
        )

        path = str(tmp_path / "layer")
        self._cdf_layer(spark, path, snap)
        wb = snapshot_cdc_writer(path, "k")
        base = snap._EQ_DELETE_DRIVER_KEYS["n"]
        wb(
            spark.createDataFrame(
                [(3, "X", "upsert"), (5, None, "delete")],
                "k long, v string, op string",
            ),
            0,
        )
        wb(
            spark.createDataFrame(
                [(900, "NEW", "upsert"), (7, None, "delete")],
                "k long, v string, op string",
            ),
            1,
        )
        assert snap._EQ_DELETE_DRIVER_KEYS["n"] == base  # zero key hops
        head = snap.snapshot_versions(spark, path)[-1]
        alive = {
            (r["k"], r["v"])
            for r in snap.read_snapshot(spark, path)
            .where("k IN (3, 5, 7, 900)")
            .select("k", "v")
            .collect()
        }
        assert alive == {(3, "X"), (900, "NEW")}
        fall = snap._CDF_FALLBACKS["n"]
        feed = {
            (r["change_type"], r["k"])
            for r in snap.snapshot_changes(spark, path, 1, head).collect()
        }
        assert snap._CDF_FALLBACKS["n"] == fall  # fully CDF-covered
        assert ("delete", 5) in feed and ("delete", 7) in feed
        # replay: both halves no-op
        wb(
            spark.createDataFrame(
                [(900, "NEW", "upsert"), (7, None, "delete")],
                "k long, v string, op string",
            ),
            1,
        )
        assert snap.snapshot_versions(spark, path)[-1] == head


class TestHiddenPartitioning:
    """Iceberg-style hidden partitioning (VERDICT r7 #7): a partition
    spec of transforms recorded as a table property, per-file transform
    [min, max] from the same single commit-time stats scan, and the
    pushdown DataSource mapping the query's own predicates through the
    transforms before probing — counter-pinned."""

    def _plan(self, spark, path, fltr, tmp_path, tag):
        import json as _json

        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshot_batch import (
            read_snapshot_pushdown,
        )

        log = str(tmp_path / f"plan_{tag}.json")
        df = read_snapshot_pushdown(spark, path, plan_log=log)
        if fltr is not None:
            df = df.filter(fltr)
        rows = df.collect()
        return rows, _json.load(open(log))

    def test_bucket_hash_parity_python_vs_spark(self, spark):
        """HARD parity pin: the no-JVM planner's bucket value must equal
        Spark's pmod(xxhash64(CAST(x AS STRING)), n) bit-for-bit — if
        this drifts, hidden-partition pruning would silently skip files
        that contain the value."""
        from pyspark.sql import functions as F

        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshot_batch import (
            bucket_transform_value,
        )

        probes = [0, 1, 7, 42, -3, 10**12, "x", "BUILDING", "café", ""]
        for n in (4, 8, 16, 101):
            row = spark.range(1).select(
                *[
                    F.pmod(
                        F.xxhash64(F.lit(v).cast("string")), F.lit(n)
                    ).alias(f"b{i}")
                    for i, v in enumerate(probes)
                ]
            ).first()
            for i, v in enumerate(probes):
                assert bucket_transform_value(v, n) == int(row[f"b{i}"]), (
                    v,
                    n,
                )
        # unmappable types conservatively return None (never mis-prune)
        assert bucket_transform_value(1.5, 8) is None
        assert bucket_transform_value(True, 8) is None

    def test_bucket_spec_rejects_non_int_string_source(
        self, spark, tmp_path
    ):
        """Commit-time validation (ADVICE r8): a bucket spec on a type
        the reader's bucket_transform_value can never probe (double,
        timestamp) is rejected at the WRITE — otherwise the stats are
        silently useless, and a numeric type change across commits
        ('5' vs '5.0' under CAST AS STRING) could alter the hash under
        the same derived stat name and cause a WRONG file skip."""
        import pytest

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        for expr, label in [
            ("CAST(id AS DOUBLE) AS k", "double"),
            ("CAST(id AS DECIMAL(10,2)) AS k", "decimal"),
            ("CAST(id AS TIMESTAMP) AS k", "timestamp"),
        ]:
            with pytest.raises(ValueError, match="bucket transform"):
                snap.commit_snapshot(
                    spark,
                    spark.range(10).selectExpr(expr),
                    str(tmp_path / f"layer_{label}"),
                    partition_spec=[
                        {"transform": "bucket", "n": 8, "source": "k"}
                    ],
                )
        # int and string sources stay accepted
        for expr, label in [("id AS k", "long"), ("CAST(id AS STRING) AS k", "str")]:
            snap.commit_snapshot(
                spark,
                spark.range(10).selectExpr(expr),
                str(tmp_path / f"ok_{label}"),
                partition_spec=[
                    {"transform": "bucket", "n": 8, "source": "k"}
                ],
            )

    def test_bucket_spec_prunes_point_and_in(self, spark, tmp_path):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        snap.commit_snapshot(
            spark,
            spark.range(2000).selectExpr(
                "id AS k", "CAST(id % 5 AS STRING) AS seg"
            ),
            path,
            stats_cols=["k"],
            partition_spec=[{"transform": "bucket", "n": 8, "source": "k"}],
            cluster=True,
        )
        # the hash layout makes NATURAL key stats useless: every
        # non-empty file's [min, max] spans ~the whole domain
        m = snap._manifest_raw(spark, path, 1)
        assert m["partition_spec"] == [
            {"transform": "bucket", "n": 8, "source": "k"}
        ]
        # natural range stats are useless under the hash layout: an
        # 11-key band keeps EVERY file that holds any data (each file's
        # [min, max] spans ~the whole domain), while the transform maps
        # a point probe to strictly fewer files
        band_files = snap.snapshot_files(
            spark, path, prune_range=("k", 100, 110)
        )
        nonempty = [
            f
            for f in snap.snapshot_files(spark, path)
            if snap._manifest(spark, path, 1)["counts"][f.rsplit("/", 1)[-1]]
        ]
        assert sorted(band_files) == sorted(nonempty)
        # a point probe through the pushdown source prunes via the
        # transform stats with zero caller cooperation
        rows, log = self._plan(
            spark, path, F.col("k") == 57, tmp_path, "eq"
        )
        assert [(r["k"], r["seg"]) for r in rows] == [(57, "2")]
        assert 0 < log["n_files_planned"] < log["n_files_total"]
        assert log["n_files_planned"] < len(band_files)
        # IN probes union their buckets; still a strict subset
        rows, log_in = self._plan(
            spark, path, F.col("k").isin([57, 1999, 3]), tmp_path, "in"
        )
        assert sorted(r["k"] for r in rows) == [3, 57, 1999]
        assert (
            log["n_files_planned"]
            <= log_in["n_files_planned"]
            < log_in["n_files_total"]
        )
        # no filter: every file plans (the spec never drops data)
        rows, log_all = self._plan(spark, path, None, tmp_path, "all")
        assert len(rows) == 2000
        assert log_all["n_files_planned"] == log_all["n_files_total"]

    @pytest.mark.slow
    def test_partition_spec_evolution_prunes_both_generations(
        self, spark, tmp_path
    ):
        """PARTITION-SPEC EVOLUTION (Iceberg spec-id semantics): an
        append may declare a NEW spec; the manifest accumulates every
        spec the layer ever wrote under (``partition_specs_all``), and
        the pushdown reader probes ALL of them — so a point lookup
        prunes the old generation through its bucket(4) stats AND the
        new generation through its bucket(8) stats, where probing only
        the head's active spec would conservatively keep every
        old-generation file."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        snap.commit_snapshot(
            spark,
            spark.range(1000).selectExpr("id AS k"),
            path,
            stats_cols=["k"],
            partition_spec=[{"transform": "bucket", "n": 4, "source": "k"}],
            cluster=True,
        )
        snap.commit_snapshot(
            spark,
            spark.range(1000, 2000).selectExpr("id AS k"),
            path,
            mode="append",
            stats_cols=["k"],
            partition_spec=[{"transform": "bucket", "n": 8, "source": "k"}],
            cluster=True,
        )
        m = snap._manifest_raw(spark, path, 2)
        assert m["partition_spec"] == [
            {"transform": "bucket", "n": 8, "source": "k"}
        ]
        assert m["partition_specs_all"] == [
            {"transform": "bucket", "n": 4, "source": "k"},
            {"transform": "bucket", "n": 8, "source": "k"},
        ]
        # old-generation probe: the bucket(4) stats prune the 4 old
        # files to 1 and the bucket(8) stats prune the 8 new files to
        # 1 — without the spec history every old file would be kept
        rows, log = self._plan(spark, path, F.col("k") == 57, tmp_path, "old")
        assert [r["k"] for r in rows] == [57]
        assert log["n_files_planned"] <= 2 < log["n_files_total"]
        # new-generation probe prunes the same way
        rows, log = self._plan(
            spark, path, F.col("k") == 1500, tmp_path, "new"
        )
        assert [r["k"] for r in rows] == [1500]
        assert log["n_files_planned"] <= 2
        # evolution never loses rows
        rows, log_all = self._plan(spark, path, None, tmp_path, "evo_all")
        assert len(rows) == 2000
        assert log_all["n_files_planned"] == log_all["n_files_total"]
        # the history survives a MERGE (carried like the active spec)
        snap.merge_snapshot(
            spark,
            spark.createDataFrame([(57,)], "k long"),
            path,
            "k",
            stats_cols=["k"],
        )
        m3 = snap._manifest_raw(spark, path, 3)
        assert len(m3["partition_specs_all"]) == 2
        # an OVERWRITE resets the history to its own spec: every file
        # of the new content is written under it, stale specs retire
        snap.commit_snapshot(
            spark,
            spark.range(50).selectExpr("id AS k"),
            path,
            partition_spec=[{"transform": "bucket", "n": 2, "source": "k"}],
            cluster=True,
        )
        m4 = snap._manifest_raw(spark, path, 4)
        assert m4["partition_specs_all"] == [
            {"transform": "bucket", "n": 2, "source": "k"}
        ]

    def test_truncate_and_day_mapping(self, spark, tmp_path):
        """truncate is monotone (eq + range bounds map); day maps DATE
        probes; unmappable values contribute nothing."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        df = spark.range(1000).selectExpr(
            "id AS k",
            "CONCAT('seg_', LPAD(CAST(id AS STRING), 4, '0')) AS name",
            "DATE_ADD(DATE '2024-01-01', CAST(id / 10 AS INT)) AS d",
        ).repartitionByRange(8, "k")
        snap.commit_snapshot(
            spark,
            df,
            path,
            partition_spec=[
                {"transform": "truncate", "w": 100, "source": "k"},
                {"transform": "truncate", "w": 7, "source": "name"},
                {"transform": "day", "source": "d"},
            ],
        )
        # int truncate: eq probe floors to its 100-block
        rows, log = self._plan(spark, path, F.col("k") == 250, tmp_path, "t1")
        assert [r["k"] for r in rows] == [250]
        assert 0 < log["n_files_planned"] < log["n_files_total"]
        # string truncate: prefix probe (eq on the full string maps to
        # eq on its 7-char prefix)
        rows, log = self._plan(
            spark, path, F.col("name") == "seg_0420", tmp_path, "t2"
        )
        assert [r["k"] for r in rows] == [420]
        assert 0 < log["n_files_planned"] < log["n_files_total"]
        # range bound maps through monotone truncate
        rows, log = self._plan(spark, path, F.col("k") >= 900, tmp_path, "t3")
        assert len(rows) == 100
        assert 0 < log["n_files_planned"] < log["n_files_total"]
        # day transform: a DATE equality probe prunes
        import datetime

        rows, log = self._plan(
            spark,
            path,
            F.col("d") == F.lit(datetime.date(2024, 3, 1)),
            tmp_path,
            "t4",
        )
        assert len(rows) == 10  # 10 ids per day
        assert 0 < log["n_files_planned"] < log["n_files_total"]

    def test_append_inherits_spec_and_stays_prunable(self, spark, tmp_path):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        spec = [{"transform": "bucket", "n": 8, "source": "k"}]
        snap.commit_snapshot(
            spark,
            spark.range(500).selectExpr("id AS k"),
            path,
            partition_spec=spec,
            cluster=True,
        )
        # append WITHOUT passing the spec: inherited, transform stats
        # recorded for the delta's files too
        snap.commit_snapshot(
            spark,
            spark.range(500, 1000).selectExpr("id AS k"),
            path,
            mode="append",
            cluster=True,
        )
        m = snap._manifest_raw(spark, path, 2)
        assert m["partition_spec"] == spec
        rows, log = self._plan(
            spark, path, F.col("k").isin([3, 777]), tmp_path, "ap"
        )
        assert sorted(r["k"] for r in rows) == [3, 777]
        assert 0 < log["n_files_planned"] < log["n_files_total"]
        # rewrite keeps the property and re-derives the layout stats
        snap.rewrite_snapshot(spark, path, n_files=4)
        assert snap._manifest_raw(spark, path, 3)["partition_spec"] == spec
        rows, _ = self._plan(spark, path, F.col("k") == 777, tmp_path, "rw")
        assert [r["k"] for r in rows] == [777]

    def test_merge_rederives_transform_stats(self, spark, tmp_path):
        """A COW MERGE on a spec'd layer re-derives transform stats for
        its rewritten files (best-effort), so a CDC-maintained layer
        keeps hidden-partition pruning instead of degrading every
        touched file to a conservative keep."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        spec = [{"transform": "bucket", "n": 8, "source": "k"}]
        snap.commit_snapshot(
            spark,
            spark.range(2000).selectExpr(
                "id AS k", "CAST(id % 5 AS STRING) AS seg"
            ),
            path,
            stats_cols=["k"],
            partition_spec=spec,
            cluster=True,
        )
        snap.merge_snapshot(
            spark,
            spark.createDataFrame(
                [(57, "MERGED"), (1999, "MERGED")], "k long, seg string"
            ),
            path,
            "k",
            stats_cols=["k"],
        )
        assert snap._manifest_raw(spark, path, 2)["partition_spec"] == spec
        # the rewritten file carries fresh derived stats: every file of
        # the head (carried AND rewritten) has the bucket stat recorded,
        # so the probe still plans a strict subset
        m2 = snap._manifest(spark, path, 2)
        bucket_stat = "_pt_bucket_8_k"
        n_with = sum(
            1
            for b, s in m2["stats"].items()
            if bucket_stat in s
        )
        assert n_with == len(m2["files"])
        rows, log = self._plan(spark, path, F.col("k") == 57, tmp_path, "mg")
        assert [(r["k"], r["seg"]) for r in rows] == [(57, "MERGED")]
        assert 0 < log["n_files_planned"] < log["n_files_total"]

    def test_spec_evolution_is_prune_safe(self, spark, tmp_path):
        """An overwrite may change the spec (Iceberg spec evolution):
        the new manifest's spec governs, files from the old layout are
        gone with the overwrite, and probes against the NEW spec prune
        while never consulting stale derived stats."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        snap.commit_snapshot(
            spark,
            spark.range(800).selectExpr("id AS k"),
            path,
            partition_spec=[{"transform": "bucket", "n": 4, "source": "k"}],
            cluster=True,
        )
        # evolve: overwrite under a WIDER bucket spec
        snap.commit_snapshot(
            spark,
            spark.range(800).selectExpr("id AS k"),
            path,
            partition_spec=[{"transform": "bucket", "n": 16, "source": "k"}],
            cluster=True,
        )
        m = snap._manifest_raw(spark, path, 2)
        assert m["partition_spec"][0]["n"] == 16
        rows, log = self._plan(spark, path, F.col("k") == 700, tmp_path, "ev")
        assert [r["k"] for r in rows] == [700]
        assert 0 < log["n_files_planned"] < log["n_files_total"]
        # time travel to v1 still probes under the OLD spec
        import json as _json

        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshot_batch import (
            read_snapshot_pushdown,
        )

        log1 = str(tmp_path / "plan_v1.json")
        rows = (
            read_snapshot_pushdown(spark, path, version=1, plan_log=log1)
            .filter(F.col("k") == 700)
            .collect()
        )
        lg = _json.load(open(log1))
        assert [r["k"] for r in rows] == [700]
        assert 0 < lg["n_files_planned"] < lg["n_files_total"]

    def test_spec_validation(self, spark, tmp_path):
        import pytest

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        df = spark.range(10).selectExpr("id AS k", "CAST(id AS STRING) AS s")
        with pytest.raises(ValueError, match="not in schema"):
            snap.commit_snapshot(
                spark,
                df,
                str(tmp_path / "a"),
                partition_spec=[
                    {"transform": "bucket", "n": 4, "source": "missing"}
                ],
            )
        with pytest.raises(ValueError, match="unknown partition transform"):
            snap.commit_snapshot(
                spark,
                df,
                str(tmp_path / "b"),
                partition_spec=[{"transform": "year", "source": "k"}],
            )
        with pytest.raises(ValueError, match="int or string"):
            # truncate on a double column is rejected
            snap.commit_snapshot(
                spark,
                spark.range(10).selectExpr("CAST(id AS DOUBLE) AS v"),
                str(tmp_path / "c"),
                partition_spec=[
                    {"transform": "truncate", "w": 4, "source": "v"}
                ],
            )
        with pytest.raises(ValueError, match="date/timestamp"):
            snap.commit_snapshot(
                spark,
                df,
                str(tmp_path / "d"),
                partition_spec=[{"transform": "day", "source": "k"}],
            )


class TestColumnStatsAndBroadcast:
    """ANALYZE-lite: per-file HLL NDV sketches + null counts recorded by
    the commit-time stats pass, table stats from metadata alone, and the
    stats-driven broadcast hint on the SQL facade."""

    def test_col_stats_ndv_and_nulls_no_data_scan(self, spark, tmp_path):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        snap.commit_snapshot(
            spark,
            spark.range(0, 3000).selectExpr(
                "id AS k",
                "CAST(id % 97 AS STRING) AS cat",
                "CASE WHEN id % 10 = 0 THEN NULL ELSE id % 500 END AS v",
            ).repartition(6),
            path,
            stats_cols=["k", "cat", "v"],
        )
        # appends MERGE: sketches union across commits without rescans
        snap.commit_snapshot(
            spark,
            spark.range(3000, 4000).selectExpr(
                "id AS k",
                "CAST(id % 97 AS STRING) AS cat",
                "CAST(NULL AS BIGINT) AS v",
            ),
            path,
            mode="append",
            stats_cols=["k", "cat", "v"],
        )
        st = snap.snapshot_col_stats(spark, path)
        assert st["n_rows"] == 4000 and st["bytes"] > 0
        # HLL ~2% relative error; generous bands
        assert abs(st["columns"]["k"]["ndv"] - 4000) <= 160
        assert abs(st["columns"]["cat"]["ndv"] - 97) <= 5
        # true NDV is 450: v = id % 500, and any v divisible by 10 only
        # arises from ids divisible by 10, which are all NULLed out
        assert abs(st["columns"]["v"]["ndv"] - 450) <= 25
        assert st["columns"]["k"]["nulls"] == 0
        assert st["columns"]["v"]["nulls"] == 300 + 1000

    def test_auto_broadcast_hint_is_stats_driven(self, spark, tmp_path):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        dim_path = str(tmp_path / "dim")
        snap.commit_snapshot(
            spark,
            spark.range(0, 200).selectExpr(
                "id AS k", "CAST(id % 5 AS STRING) AS seg"
            ),
            dim_path,
            stats_cols=["k"],
        )
        # the hint decision runs on UNCOMPRESSED bytes (footer raw
        # sizes) — the honest in-memory estimate
        total = snap.snapshot_table_raw_bytes(spark, dim_path)
        assert total and total > 0
        fact = spark.range(0, 50_000).selectExpr("id % 200 AS k", "id AS x")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            # Spark's own estimator is blinded; only the manifest knows
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            snap.register_snapshot_view(
                spark,
                dim_path,
                "dim_nohint",
            )
            plan_no = (
                fact.join(spark.table("dim_nohint"), "k")
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert "BroadcastHashJoin" not in plan_no
            # under threshold -> hinted -> broadcast despite -1 conf
            snap.register_snapshot_view(
                spark,
                dim_path,
                "dim_hint",
                auto_broadcast_bytes=total + 1,
            )
            plan_yes = (
                fact.join(spark.table("dim_hint"), "k")
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert "BroadcastHashJoin" in plan_yes
            # over threshold -> stats say it does NOT fit -> no hint
            snap.register_snapshot_view(
                spark,
                dim_path,
                "dim_toobig",
                auto_broadcast_bytes=total - 1,
            )
            plan_big = (
                fact.join(spark.table("dim_toobig"), "k")
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert "BroadcastHashJoin" not in plan_big
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_col_stats_honest_on_partial_coverage(self, spark, tmp_path):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        snap.commit_snapshot(
            spark,
            spark.range(0, 100).selectExpr("id AS k", "id % 3 AS v"),
            path,
            stats_cols=["k"],  # v NOT covered
        )
        snap.commit_snapshot(
            spark,
            spark.range(100, 200).selectExpr("id AS k", "id % 3 AS v"),
            path,
            mode="append",
            stats_cols=["k", "v"],  # v covered only here
        )
        st = snap.snapshot_col_stats(spark, path)
        assert st["columns"]["k"]["ndv"] is not None
        # some live file lacks v sketches -> partial coverage is honest
        assert st["columns"]["v"] == {"ndv": None, "nulls": None}


class TestBloomUnionAndCdcApply:
    def test_point_probe_skips_whole_segments(
        self, spark, tmp_path, monkeypatch
    ):
        """Segment-entry bloom UNION: a point probe drops whole segments
        before loading any segment file (planning O(candidate
        segments)), and never drops a true match."""
        from pyspark.sql import functions as F

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        monkeypatch.setattr(snap, "_SEGMENT_MAX_FILES", 4)
        snap.commit_snapshot(
            spark,
            spark.range(0, 1600)
            .selectExpr("id AS k")
            .repartitionByRange(16, "k"),
            path,
            bloom_col="k",
        )
        raw = snap._manifest_raw(spark, path, 1)
        assert len(raw["segments"]) == 4
        assert all(e.get("bloom_union") for e in raw["segments"])
        for probe in (3, 800, 1599):
            snap._SEGMENT_READS["n"] = 0
            kept = snap.snapshot_files(spark, path, prune_point=("k", probe))
            # range-clustered keys: only the one covering segment (plus
            # rare false positives) is ever loaded
            assert snap._SEGMENT_READS["n"] <= 2
            got = [
                r["k"]
                for r in spark.read.parquet(*kept)
                .where(F.col("k") == probe)
                .collect()
            ]
            assert got == [probe]
        # IN-list across distant segments: both covering segments load,
        # the untouched middle ones stay skipped
        snap._SEGMENT_READS["n"] = 0
        kept = snap.snapshot_files(spark, path, prune_point=("k", [3, 1599]))
        assert snap._SEGMENT_READS["n"] <= 3
        got = sorted(
            r["k"]
            for r in spark.read.parquet(*kept)
            .where(F.col("k").isin([3, 1599]))
            .collect()
        )
        assert got == [3, 1599]
        # a MERGE's rewritten files get fresh blooms under the layer's
        # (m, k) (r10: pre-r10 wrote them bloom-less, voiding their
        # segment's union) — every segment union stays ON and the
        # merged key still probes correct AND sharp
        snap.merge_snapshot(
            spark,
            spark.range(0, 1).selectExpr("id AS k"),
            path,
            "k",
        )
        raw2 = snap._manifest_raw(spark, path, 2)
        assert all(e.get("bloom_union") for e in raw2["segments"])
        snap._SEGMENT_READS["n"] = 0
        kept = snap.snapshot_files(spark, path, prune_point=("k", 0))
        assert snap._SEGMENT_READS["n"] <= 2
        vals = [
            r["k"]
            for r in spark.read.parquet(*kept).where("k = 0").collect()
        ]
        assert vals == [0]

    def test_cdc_writer_replay_noops_both_halves(self, spark, tmp_path):
        """The CDC apply's paired txn markers: a checkpoint-replayed
        batch no-ops BOTH the merge half and the equality-delete half —
        including the crash-between-halves replay."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        from aie321_bigdata_movie_kpi_1m_spark.streaming.snapshot_sink import (
            snapshot_cdc_writer,
        )

        path = str(tmp_path / "layer")
        wb = snapshot_cdc_writer(path, "k", resolve=["seq"])
        b0 = spark.createDataFrame(
            [(1, "a", 1, "upsert"), (2, "b", 1, "upsert"), (3, "c", 1, "upsert")],
            "k long, v string, seq long, op string",
        )
        wb(b0, 0)
        b1 = spark.createDataFrame(
            [(2, "b2", 2, "upsert"), (3, None, 2, "delete")],
            "k long, v string, seq long, op string",
        )
        wb(b1, 1)
        want = {(1, "a"), (2, "b2")}
        got = lambda: {
            (r["k"], r["v"])
            for r in snap.read_snapshot(spark, path).select("k", "v").collect()
        }
        assert got() == want
        head = snap.snapshot_versions(spark, path)[-1]
        # full replay of batch 1: both halves no-op, nothing recommitted
        wb(b1, 1)
        assert got() == want
        assert snap.snapshot_versions(spark, path)[-1] == head
        # crash-between-halves: simulate by replaying with the merge
        # marker already recorded — merge no-ops, delete applies once
        # (already recorded too, so again a no-op)
        rep = snap.delete_snapshot_keys(
            spark, path, "k", [2], txn=("cdc", 3)
        )
        assert rep.get("noop") is True  # 2*1+1 = 3 already high-watered
        assert got() == want


class TestAdviceRound6Fixes:
    """Regression pins for the round-6 ADVICE items (VERDICT r6 /
    ADVICE.md): friendly restore error on vacuumed segments, one-job
    IN-list bloom probes, loud NULL-op CDC rejection, and backoff in
    the OCC retry loop."""

    def test_restore_vacuumed_segment_raises_friendly(
        self, spark, tmp_path
    ):
        """A format-2 manifest whose segment file was removed must fail
        restore with the friendly 'cannot restore … vacuumed' error —
        not an opaque py4j FileNotFound from materializing the manifest
        before the check (ADVICE r6 #1)."""
        import os

        import pytest

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        snap.commit_snapshot(
            spark, spark.range(10).selectExpr("id AS k"), path
        )
        snap.commit_snapshot(
            spark, spark.range(5).selectExpr("id AS k"), path
        )
        seg = snap._manifest_raw(spark, path, 1)["segments"][0]["path"]
        os.remove(seg.removeprefix("file:"))
        with pytest.raises(FileNotFoundError, match="cannot restore"):
            snap.restore_snapshot(spark, path, 1)

    def test_in_list_probe_one_position_job(
        self, spark, tmp_path, monkeypatch
    ):
        """A multi-value prune_point computes ALL probe positions in one
        Spark job, shared by the segment-union and per-file probes
        (ADVICE r6 #2: was one job per value, computed twice)."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        monkeypatch.setattr(snap, "_SEGMENT_MAX_FILES", 4)
        snap.commit_snapshot(
            spark,
            spark.range(0, 800)
            .selectExpr("id AS k")
            .repartitionByRange(8, "k"),
            path,
            bloom_col="k",
        )
        calls = []
        real = snap._bloom_positions_multi

        def spy(sp, values, *, m, k):
            calls.append(list(values))
            return real(sp, values, m=m, k=k)

        monkeypatch.setattr(snap, "_bloom_positions_multi", spy)
        probes = [3, 99, 400, 401, 799]
        kept = snap.snapshot_files(spark, path, prune_point=("k", probes))
        assert calls == [probes]  # one batched call for the whole plan
        got = sorted(
            r["k"]
            for r in spark.read.parquet(*kept)
            .where(spark_col_in("k", probes))
            .collect()
        )
        assert got == sorted(probes)

    def test_cdc_writer_rejects_null_op(self, spark, tmp_path):
        """A CDC row with NULL op fails the batch loudly instead of
        vanishing from both branches (ADVICE r6 #3)."""
        import pytest

        from aie321_bigdata_movie_kpi_1m_spark.streaming.snapshot_sink import (
            snapshot_cdc_writer,
        )

        path = str(tmp_path / "layer")
        wb = snapshot_cdc_writer(path, "k", resolve=["seq"])
        bad = spark.createDataFrame(
            [(1, "a", 1, "upsert"), (2, "b", 1, None)],
            "k long, v string, seq long, op string",
        )
        with pytest.raises(ValueError, match="NULL 'op'"):
            wb(bad, 0)

    def test_retry_commit_backs_off_between_attempts(self, monkeypatch):
        """Retries sleep a jittered backoff between attempts (ADVICE r6
        #4) — and still return the first success."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        sleeps = []
        monkeypatch.setattr(snap.time, "sleep", sleeps.append)
        state = {"n": 0}

        def flaky():
            state["n"] += 1
            if state["n"] < 3:
                raise FileExistsError("lost the race")
            return "ok"

        assert snap.retry_commit(flaky, attempts=5) == "ok"
        assert len(sleeps) == 2  # one wait per lost attempt
        assert all(0 <= s <= 2.0 for s in sleeps)
        # backoff_seconds=0 restores immediate retry (test substrate)
        state["n"] = 0
        sleeps.clear()
        assert (
            snap.retry_commit(flaky, attempts=5, backoff_seconds=0) == "ok"
        )
        assert sleeps == []


def spark_col_in(col: str, values: list):
    from pyspark.sql import functions as F

    return F.col(col).isin(values)


class TestSnapshotPushdownScan:
    """The filter-pushdown batch DataSource over the snapshot layer
    (sources/snapshot_batch.py): pure-Python bloom-hash parity, counter-
    pinned two-level pruning from the query's own predicates, delete
    application, and time travel."""

    def _layer(self, spark, tmp_path, monkeypatch):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        monkeypatch.setattr(snap, "_SEGMENT_MAX_FILES", 4)
        snap.commit_snapshot(
            spark,
            spark.range(0, 1600)
            .selectExpr("id AS k", "CAST(id % 7 AS STRING) AS v")
            .repartitionByRange(16, "k"),
            path,
            stats_cols=["k"],
            bloom_col="k",
        )
        return path

    def test_xxh64_parity_with_spark_is_pinned(self, spark):
        """The planner's pure-Python XXH64 must match Spark's xxhash64
        BIT FOR BIT (commit-time bloom vs probe-time positions) — every
        tail length class, unicode, and int-rendered values.  HARD
        assert: drift would make bloom pruning silently wrong."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshot_batch import (
            bloom_probe_positions,
        )

        values = [0, 1, -5, 123456789, 2**40]
        values += ["", "a"] + ["x" * n for n in (3, 4, 7, 8, 9, 15, 16)]
        values += ["y" * n for n in (17, 31, 32, 33, 40, 64, 100)]
        values += ["héllo wörld ünïcode", "tab\tand\nnewline"]
        spark_pos = snap._bloom_positions_multi(spark, values, m=8192, k=4)
        for v, sp in zip(values, spark_pos):
            assert bloom_probe_positions(v, m=8192, k=4) == sp, repr(v)
        # non-reproducible CAST renderings conservatively skip probing
        assert bloom_probe_positions(1.5, m=8192, k=4) is None
        assert bloom_probe_positions(True, m=8192, k=4) is None

    def test_where_prunes_segments_and_files(
        self, spark, tmp_path, monkeypatch
    ):
        """A plain WHERE — no prune_range/prune_point anywhere — opens
        only the matching segment/file set (counter-pinned via the
        plan_log observability hook), and results stay exact."""
        import json

        from pyspark.sql import functions as F

        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshot_batch import (
            read_snapshot_pushdown,
        )

        path = self._layer(spark, tmp_path, monkeypatch)
        log = str(tmp_path / "plan.json")
        # range band: 1 of 4 segments, 1 of 16 files
        got = (
            read_snapshot_pushdown(spark, path, plan_log=log)
            .where(F.col("k").between(100, 199))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("s"))
            .first()
        )
        assert (got["n"], got["s"]) == (100, sum(range(100, 200)))
        plan = json.load(open(log))
        assert plan["n_files_total"] == 16
        assert plan["n_segments_read"] == 1
        assert plan["n_files_planned"] <= 2
        # bloom point probe on the key column
        got = (
            read_snapshot_pushdown(spark, path, plan_log=log)
            .where("k = 777")
            .collect()
        )
        assert [(r["k"], r["v"]) for r in got] == [(777, str(777 % 7))]
        plan = json.load(open(log))
        assert plan["n_files_planned"] <= 2
        # IN list spanning distant segments: both load, middle skipped
        got = (
            read_snapshot_pushdown(spark, path, plan_log=log)
            .where(F.col("k").isin([3, 1599]))
            .agg(F.sum("k").alias("s"))
            .first()
        )
        assert got["s"] == 3 + 1599
        plan = json.load(open(log))
        assert plan["n_segments_read"] <= 3
        # fresh filterless load plans the FULL file set and counts all
        got = read_snapshot_pushdown(spark, path, plan_log=log).count()
        assert got == 1600
        plan = json.load(open(log))
        assert plan["n_files_planned"] == 16

    def test_deletes_applied_and_time_travel(
        self, spark, tmp_path, monkeypatch
    ):
        """Position AND equality delete entries are applied per file in
        the Arrow read path; version= reads the pre-delete state."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshot_batch import (
            read_snapshot_pushdown,
        )

        path = self._layer(spark, tmp_path, monkeypatch)
        snap.delete_snapshot(spark, path, "k = 10")
        snap.delete_snapshot_keys(spark, path, "k", [20, 21])
        df = read_snapshot_pushdown(spark, path)
        assert df.count() == snap.read_snapshot(spark, path).count() == 1597
        assert (
            read_snapshot_pushdown(spark, path)
            .where("k IN (10, 20, 21)")
            .count()
            == 0
        )
        # time travel: v1 predates both deletes
        assert read_snapshot_pushdown(spark, path, version=1).count() == 1600

    def test_no_resurrect_scope_on_equality_deletes(
        self, spark, tmp_path, monkeypatch
    ):
        """A key re-appended AFTER its equality delete is outside the
        entry's touch scope and must survive the pushdown read — same
        no-resurrect contract as read_snapshot."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshot_batch import (
            read_snapshot_pushdown,
        )

        path = self._layer(spark, tmp_path, monkeypatch)
        snap.delete_snapshot_keys(spark, path, "k", [42])
        snap.commit_snapshot(
            spark,
            spark.range(42, 43).selectExpr(
                "id AS k", "'resurrected' AS v"
            ),
            path,
            mode="append",
        )
        rows = (
            read_snapshot_pushdown(spark, path).where("k = 42").collect()
        )
        assert [(r["k"], r["v"]) for r in rows] == [(42, "resurrected")]


class TestChangeDataFeed:
    """Per-commit change files (the change_feed table property, Delta
    CDF style): MERGE and predicate-DELETE record exact row-level
    deltas; snapshot_changes routes through them — O(changed rows),
    zero table scans (counter-pinned) — and falls back to the generic
    exceptAll diff exactly when a step lacks a change source."""

    def _layer(self, spark, path):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        snap.commit_snapshot(
            spark,
            spark.range(100)
            .selectExpr("id AS k", "CAST(id % 3 AS STRING) AS seg")
            .repartitionByRange(4, "k"),
            path,
            stats_cols=["k"],
            change_feed=True,
        )
        return path

    def test_merge_records_exact_delta_no_fallback(self, spark, tmp_path):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = self._layer(spark, str(tmp_path / "layer"))
        # update k=10, IDENTICAL upsert k=11 (must cancel), insert k=500
        delta = spark.createDataFrame(
            [(10, "X"), (11, str(11 % 3)), (500, "NEW")],
            "k long, seg string",
        )
        snap.merge_snapshot(spark, delta, path, "k", stats_cols=["k"])
        assert snap._manifest_raw(spark, path, 2).get("changes")
        base = snap._CDF_FALLBACKS["n"]
        rows = sorted(
            (r["change_type"], r["k"], r["seg"])
            for r in snap.snapshot_changes(spark, path, 1, 2).collect()
        )
        assert rows == [
            ("delete", 10, "1"),
            ("insert", 10, "X"),
            ("insert", 500, "NEW"),
        ]
        assert snap._CDF_FALLBACKS["n"] == base  # zero table-scan diffs

    def test_composed_range_equals_generic_fold(self, spark, tmp_path):
        """merge + append + predicate-delete chained: the incremental
        feed (still zero fallbacks) folds to exactly the generic
        endpoint diff."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = self._layer(spark, str(tmp_path / "layer"))
        snap.merge_snapshot(
            spark,
            spark.createDataFrame([(10, "X")], "k long, seg string"),
            path,
            "k",
            stats_cols=["k"],
        )
        snap.commit_snapshot(
            spark,
            spark.createDataFrame([(600, "A")], "k long, seg string"),
            path,
            mode="append",
        )
        snap.delete_snapshot(spark, path, "k = 5")
        base = snap._CDF_FALLBACKS["n"]
        inc = sorted(
            (r["change_type"], r["k"], r["seg"])
            for r in snap.snapshot_changes(spark, path, 1, 4).collect()
        )
        assert snap._CDF_FALLBACKS["n"] == base
        gen = sorted(
            (r["change_type"], r["k"], r["seg"])
            for r in snap.snapshot_changes(
                spark, path, 1, 4, force_generic=True
            ).collect()
        )
        assert inc == gen  # no cancelling pairs in this chain
        assert ("delete", 5, "2") in inc and ("insert", 600, "A") in inc

    def test_fallback_on_uncovered_steps(self, spark, tmp_path):
        """An overwrite (no change source) in the range falls back to
        the generic diff — counted; an equality-key delete on a CDF
        layer is now COVERED (key-only change source, lazy pre-images)
        so it must NOT fall back."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = self._layer(spark, str(tmp_path / "layer"))
        snap.commit_snapshot(
            spark,
            spark.range(50).selectExpr(
                "id AS k", "CAST(id % 3 AS STRING) AS seg"
            ),
            path,
            mode="overwrite",
        )
        base = snap._CDF_FALLBACKS["n"]
        assert snap.snapshot_changes(spark, path, 1, 2).count() == 50
        assert snap._CDF_FALLBACKS["n"] == base + 1
        snap.delete_snapshot_keys(spark, path, "k", [7])
        base = snap._CDF_FALLBACKS["n"]
        rows = snap.snapshot_changes(spark, path, 2, 3).collect()
        assert {(r["change_type"], r["k"], r["seg"]) for r in rows} == {
            ("delete", 7, "1")
        }
        assert snap._CDF_FALLBACKS["n"] == base  # zero table-scan diffs

    def test_equality_delete_without_cdf_falls_back(self, spark, tmp_path):
        """On a layer WITHOUT the change-feed property, an equality
        delete records no change source — the generic diff is the
        honest route and the fallback counter says so."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "nocdf")
        snap.commit_snapshot(
            spark,
            spark.range(100).selectExpr(
                "id AS k", "CAST(id % 3 AS STRING) AS seg"
            ),
            path,
            stats_cols=["k"],
        )
        snap.delete_snapshot_keys(spark, path, "k", [7])
        base = snap._CDF_FALLBACKS["n"]
        rows = snap.snapshot_changes(spark, path, 1, 2).collect()
        assert {(r["change_type"], r["k"]) for r in rows} == {("delete", 7)}
        assert snap._CDF_FALLBACKS["n"] == base + 1

    def test_cdf_property_carries_and_turns_off(self, spark, tmp_path):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = self._layer(spark, str(tmp_path / "layer"))
        snap.commit_snapshot(
            spark,
            spark.createDataFrame([(700, "B")], "k long, seg string"),
            path,
            mode="append",
        )
        assert snap._manifest_raw(spark, path, 2)["cdf"] is True
        snap.commit_snapshot(
            spark,
            spark.range(5).selectExpr(
                "id AS k", "CAST(id % 3 AS STRING) AS seg"
            ),
            path,
            change_feed=False,
        )
        assert snap._manifest_raw(spark, path, 3)["cdf"] is False
        # a merge on the cdf-off head records nothing
        snap.merge_snapshot(
            spark,
            spark.createDataFrame([(1, "Z")], "k long, seg string"),
            path,
            "k",
        )
        assert snap._manifest_raw(spark, path, 4).get("changes") is None

    def test_vacuum_gc_and_keeps_referenced_change_dirs(
        self, spark, tmp_path
    ):
        import os

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = self._layer(spark, str(tmp_path / "layer"))
        for i in range(3):
            snap.merge_snapshot(
                spark,
                spark.createDataFrame(
                    [(10 + i, f"V{i}")], "k long, seg string"
                ),
                path,
                "k",
                stats_cols=["k"],
            )
        ch_root = os.path.join(str(tmp_path / "layer"), "_changes")
        assert len(os.listdir(ch_root)) == 3
        # keep the last 2 manifests (v3, v4): v2's change dir must go,
        # v3's and v4's must stay readable
        snap.vacuum_snapshots(
            spark, path, keep_last=2, orphan_grace_seconds=0
        )
        assert len(os.listdir(ch_root)) == 2
        rows = snap.snapshot_changes(spark, path, 3, 4).collect()
        # k=12 pre-exists (seg '0'), so the merge is an update pair
        assert {(r["change_type"], r["k"], r["seg"]) for r in rows} == {
            ("delete", 12, "0"),
            ("insert", 12, "V2"),
        }


class TestMergeSchemaEvolution:
    """Additive schema evolution on MERGE (VERDICT r6 #3): a delta that
    is a SUPERSET of the head schema upserts AND adds the new columns —
    carried files read NULL for them under the recorded schema, re-typing is
    still rejected, and the evolution composes with a prior
    append-evolution."""

    def _base(self, spark):
        return (
            spark.range(100)
            .selectExpr("id AS k", "CAST(id % 3 AS STRING) AS seg")
            .repartitionByRange(4, "k")
        )

    def test_superset_delta_evolves_and_backfills(self, spark, tmp_path):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        snap.commit_snapshot(spark, self._base(spark), path, stats_cols=["k"])
        delta = spark.createDataFrame(
            [(10, "X", 1.5), (500, "NEW", 2.5)],
            "k long, seg string, score double",
        )
        rep = snap.merge_snapshot(spark, delta, path, "k", stats_cols=["k"])
        assert rep["files_rewritten"] == 1  # only k=10's file
        # manifest schema gained the column, typed
        rec = snap._manifest_raw(spark, path, 2)["schema"]
        assert "score" in rec
        got = {
            r["k"]: (r["seg"], r["score"])
            for r in snap.read_snapshot(spark, path)
            .where("k IN (10, 11, 500)")
            .collect()
        }
        assert got[10] == ("X", 1.5)
        assert got[500] == ("NEW", 2.5)
        assert got[11] == (str(11 % 3), None)  # carried file: NULL fill
        assert snap.read_snapshot(spark, path).count() == 101

    def test_retype_and_drop_still_rejected(self, spark, tmp_path):
        import pytest

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        snap.commit_snapshot(spark, self._base(spark), path)
        with pytest.raises(ValueError, match="re-types"):
            snap.merge_snapshot(
                spark,
                spark.createDataFrame(
                    [(1, 7, "x")], "k long, seg long, extra string"
                ),
                path,
                "k",
            )
        with pytest.raises(ValueError, match="additively only"):
            snap.merge_snapshot(
                spark,
                spark.createDataFrame([(1, "x")], "k long, extra string"),
                path,
                "k",
            )

    def test_composes_with_append_evolution(self, spark, tmp_path):
        """A merge touching files from BEFORE an append-evolution
        reads them under the union schema, backfills the appended column, and
        the final layer holds all three schema generations."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        snap.commit_snapshot(spark, self._base(spark), path, stats_cols=["k"])
        snap.commit_snapshot(
            spark,
            spark.createDataFrame(
                [(200, "A", 9)], "k long, seg string, rank long"
            ),
            path,
            mode="append",
            stats_cols=["k"],
        )
        delta = spark.createDataFrame(
            [(10, "X", 1, 0.5), (200, "B", 2, 0.7)],
            "k long, seg string, rank long, score double",
        )
        snap.merge_snapshot(spark, delta, path, "k", stats_cols=["k"])
        got = {
            r["k"]: (r["seg"], r["rank"], r["score"])
            for r in snap.read_snapshot(spark, path)
            .where("k IN (10, 11, 200)")
            .collect()
        }
        assert got[10] == ("X", 1, 0.5)
        assert got[200] == ("B", 2, 0.7)
        assert got[11] == (str(11 % 3), None, None)

    def test_streaming_upsert_evolving_batches(self, spark, tmp_path):
        """The CDC upsert sink survives a stream whose later batches
        carry a new column — the round-6 'CDC feeds evolve' seam."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        from aie321_bigdata_movie_kpi_1m_spark.streaming.snapshot_sink import (
            snapshot_upsert_writer,
        )

        path = str(tmp_path / "layer")
        wb = snapshot_upsert_writer(path, "k")
        wb(
            spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
            0,
        )
        wb(
            spark.createDataFrame(
                [(2, "b2", 99), (3, "c", 42)], "k long, v string, n long"
            ),
            1,
        )
        got = {
            r["k"]: (r["v"], r["n"])
            for r in snap.read_snapshot(spark, path)
            .collect()
        }
        assert got == {1: ("a", None), 2: ("b2", 99), 3: ("c", 42)}


class TestBroadcastRawBytes:
    """Broadcast-hint safety on compressible data (VERDICT r6 #6): the
    hint compares UNCOMPRESSED footer bytes, so a high-compression
    layer does NOT hint at a threshold its on-disk bytes would pass."""

    def test_high_compression_layer_does_not_overhint(
        self, spark, tmp_path
    ):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "dim")
        # 20k rows of one repeated 200-char string: parquet dictionary+
        # RLE crushes this on disk; in memory it is ~4 MB of strings
        snap.commit_snapshot(
            spark,
            spark.range(20_000).selectExpr(
                "id AS k", f"repeat('the same long value ', 10) AS v"
            ),
            path,
        )
        comp = snap.snapshot_table_bytes(spark, path)
        raw = snap.snapshot_table_raw_bytes(spark, path)
        assert comp and raw and raw > comp * 3  # genuinely compressible
        threshold = (comp + raw) // 2  # passes compressed, fails raw
        fact = spark.range(0, 50_000).selectExpr("id % 20000 AS k", "id AS x")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            snap.register_snapshot_view(
                spark, path, "dim_compressed", auto_broadcast_bytes=threshold
            )
            plan = (
                fact.join(spark.table("dim_compressed"), "k")
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert "BroadcastHashJoin" not in plan  # raw bytes say no
            # a threshold the RAW size passes still hints
            snap.register_snapshot_view(
                spark, path, "dim_fits", auto_broadcast_bytes=raw + 1
            )
            plan = (
                fact.join(spark.table("dim_fits"), "k")
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert "BroadcastHashJoin" in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_raw_bytes_survive_merge_and_compact(self, spark, tmp_path):
        """Repacked/carried files keep their recorded raw sizes, so the
        table-level figure stays available across the maintenance
        lifecycle."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        snap.commit_snapshot(
            spark,
            spark.range(1000)
            .selectExpr("id AS k", "CAST(id AS STRING) AS v")
            .repartitionByRange(4, "k"),
            path,
            stats_cols=["k"],
        )
        assert snap.snapshot_table_raw_bytes(spark, path) is not None
        snap.merge_snapshot(
            spark,
            spark.createDataFrame([(5, "X")], "k long, v string"),
            path,
            "k",
            stats_cols=["k"],
        )
        assert snap.snapshot_table_raw_bytes(spark, path, 2) is not None
        snap.compact_small_files(spark, path, small_file_bytes=1 << 30)
        assert snap.snapshot_table_raw_bytes(spark, path) is not None


class TestCommitLockProviders:
    """The pluggable commit-lock seam (VERDICT r6 #7): exclusive
    acquisition, stale-holder break, and timeout on the marker-file
    provider; the serializable-history fuzz runs parametrized over
    both providers in test_property_based.py."""

    def test_file_lock_excludes_and_breaks_stale(self, spark, tmp_path):
        import os

        import pytest

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        target = str(tmp_path / "layer" / "_manifests" / "v1.json")
        os.makedirs(os.path.dirname(target), exist_ok=True)
        lk = snap.FileCommitLock(
            timeout_seconds=0.3, stale_seconds=60.0, poll_seconds=0.01
        )
        with lk.acquire(spark, target):
            assert os.path.exists(target + ".lock")
            # a second acquirer times out while the lock is held fresh
            with pytest.raises(TimeoutError):
                with lk.acquire(spark, target):
                    pass
        assert not os.path.exists(target + ".lock")  # released
        # a STALE holder (crashed process) is broken by age
        with open(target + ".lock", "w"):
            pass
        os.utime(target + ".lock", (0, 0))  # epoch mtime: long dead
        acquired = False
        with lk.acquire(spark, target):
            acquired = True
        assert acquired

    def test_commits_work_under_file_lock_provider(self, spark, tmp_path):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        prev = snap.set_commit_lock_provider(snap.FileCommitLock())
        try:
            path = str(tmp_path / "layer")
            snap.commit_snapshot(
                spark, spark.range(10).selectExpr("id AS k"), path
            )
            snap.commit_snapshot(
                spark,
                spark.range(10, 20).selectExpr("id AS k"),
                path,
                mode="append",
            )
            assert snap.read_snapshot(spark, path).count() == 20
        finally:
            snap.set_commit_lock_provider(prev)


class TestNdvDomains:
    """Numeric columns sketch NDV in their native long domain (composes
    with range planning); mixed-domain file sets report None honestly."""

    def test_native_long_domain_and_mixed_guard(self, spark, tmp_path):
        import os

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        snap.commit_snapshot(
            spark,
            spark.range(1000).selectExpr(
                "id % 100 AS k", "CAST(id % 10 AS STRING) AS v"
            ),
            path,
            stats_cols=["k", "v"],
        )
        m = snap._manifest(spark, path, 1)
        cm = next(iter(m["colmeta"].values()))
        assert cm["k"]["dom"] == "long" and cm["v"]["dom"] == "string"
        st = snap.snapshot_col_stats(spark, path)
        assert abs(st["columns"]["k"]["ndv"] - 100) <= 3
        assert abs(st["columns"]["v"]["ndv"] - 10) <= 1
        # simulate a pre-domain-tagging file: strip one file's dom tag
        # and flip it to the string domain — union must refuse
        import json as _json

        seg_path = snap._manifest_raw(spark, path, 1)["segments"][0][
            "path"
        ].removeprefix("file:")
        seg = _json.load(open(seg_path))
        b0 = next(iter(seg["colmeta"]))
        seg["colmeta"][b0]["k"]["dom"] = "string"
        with open(seg_path, "w") as fh:
            fh.write(_json.dumps(seg))
        # drop the Hadoop local-FS checksum sidecar the rewrite broke
        d, n = os.path.split(seg_path)
        crc = os.path.join(d, f".{n}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        st2 = snap.snapshot_col_stats(spark, path)
        if len(seg["colmeta"]) > 1:  # a genuine mix across files
            assert st2["columns"]["k"]["ndv"] is None
        assert st2["columns"]["v"]["ndv"] is not None


class TestSnapshotCdfStream:
    """mode=cdf on the snapshot stream source: the change feed as a
    checkpointed stream across the CDC-maintained lifecycle."""

    def _run(self, spark, path, ckpt, name):
        # foreachBatch sink: the memory sink cannot recover from a
        # checkpoint, and the restart semantics are the point here
        from aie321_bigdata_movie_kpi_1m_spark.sources.pyds import (
            snapshot_cdf_stream_schema,
        )

        got: list = []
        stream = (
            spark.readStream.format("snapshot_stream")
            .schema(snapshot_cdf_stream_schema(path, "k,seg"))
            .option("path", path)
            .option("cols", "k,seg")
            .option("mode", "cdf")
            .load()
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda df, bid: got.extend(
                    (r["change_type"], r["k"], r["seg"])
                    for r in df.collect()
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(got)

    def test_tail_covers_merge_append_delete_and_restarts(
        self, spark, tmp_path
    ):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        from aie321_bigdata_movie_kpi_1m_spark.sources.pyds import (
            register_snapshot_stream,
        )

        register_snapshot_stream(spark)
        path, ckpt = str(tmp_path / "layer"), str(tmp_path / "ckpt")
        snap.commit_snapshot(
            spark,
            spark.range(10)
            .selectExpr("id AS k", "CAST(id % 3 AS STRING) AS seg")
            .repartitionByRange(2, "k"),
            path,
            stats_cols=["k"],
            change_feed=True,
        )
        snap.merge_snapshot(
            spark,
            spark.createDataFrame(
                [(5, "X"), (100, "NEW")], "k long, seg string"
            ),
            path,
            "k",
            stats_cols=["k"],
        )
        rows = self._run(spark, path, ckpt, "cdf_t1")
        assert ("delete", 5, "2") in rows and ("insert", 5, "X") in rows
        assert ("insert", 100, "NEW") in rows
        assert len(rows) == 10 + 3  # initial snapshot + merge changes
        # append + predicate delete, then RESTART from the checkpoint:
        # only the two new versions' changes arrive
        snap.commit_snapshot(
            spark,
            spark.createDataFrame([(200, "A")], "k long, seg string"),
            path,
            mode="append",
        )
        snap.delete_snapshot(spark, path, "seg = 'X'")
        rows2 = self._run(spark, path, ckpt, "cdf_t1")
        # restart from the checkpoint: ONLY the two new versions' rows
        assert rows2 == [("delete", 5, "X"), ("insert", 200, "A")]

    def test_refuses_merge_without_change_feed(self, spark, tmp_path):
        import pytest

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        from aie321_bigdata_movie_kpi_1m_spark.sources.pyds import (
            register_snapshot_stream,
        )

        register_snapshot_stream(spark)
        path, ckpt = str(tmp_path / "layer"), str(tmp_path / "ckpt")
        snap.commit_snapshot(
            spark,
            spark.range(10).selectExpr(
                "id AS k", "CAST(id % 3 AS STRING) AS seg"
            ),
            path,
        )  # change_feed OFF
        snap.merge_snapshot(
            spark,
            spark.createDataFrame([(1, "Z")], "k long, seg string"),
            path,
            "k",
        )
        from pyspark.errors.exceptions.captured import StreamingQueryException

        with pytest.raises(Exception, match="no change source"):
            try:
                self._run(spark, path, ckpt, "cdf_t2")
            except StreamingQueryException as e:
                raise RuntimeError(str(e)) from e


class TestSnapshotPushdownProjection:
    """The cols= projection on snapshot_batch: only requested columns
    plan and transfer, and equality deletes still apply when their key
    column is NOT in the projection (read internally, dropped)."""

    def test_cols_projection_and_eq_delete_key_outside(
        self, spark, tmp_path, monkeypatch
    ):
        import pytest

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshot_batch import (
            read_snapshot_pushdown,
        )

        path = str(tmp_path / "layer")
        monkeypatch.setattr(snap, "_SEGMENT_MAX_FILES", 4)
        snap.commit_snapshot(
            spark,
            spark.range(0, 100)
            .selectExpr("id AS k", "CAST(id % 7 AS STRING) AS v")
            .repartitionByRange(4, "k"),
            path,
            stats_cols=["k"],
        )
        snap.delete_snapshot_keys(spark, path, "k", [3, 4])
        df = read_snapshot_pushdown(spark, path, cols=["v"])
        assert df.columns == ["v"]
        # the two deleted rows are gone even though k never surfaces
        assert df.count() == 98
        # projection including the key: values intact
        df2 = read_snapshot_pushdown(spark, path, cols=["k", "v"])
        got = {r["k"] for r in df2.collect()}
        assert 3 not in got and 4 not in got and len(got) == 98
        with pytest.raises(Exception, match="not in layer schema"):
            read_snapshot_pushdown(spark, path, cols=["nope"]).count()

    def test_projection_on_evolved_layer_null_fills(
        self, spark, tmp_path
    ):
        """A merge-evolved layer read through the DataSource: carried
        files lack the new column on disk and read NULL."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshot_batch import (
            read_snapshot_pushdown,
        )

        path = str(tmp_path / "layer")
        snap.commit_snapshot(
            spark,
            spark.range(0, 50)
            .selectExpr("id AS k", "CAST(id % 3 AS STRING) AS v")
            .repartitionByRange(4, "k"),
            path,
            stats_cols=["k"],
        )
        snap.merge_snapshot(
            spark,
            spark.createDataFrame(
                [(5, "X", 1.5)], "k long, v string, score double"
            ),
            path,
            "k",
            stats_cols=["k"],
        )
        got = {
            r["k"]: r["score"]
            for r in read_snapshot_pushdown(spark, path)
            .where("k IN (5, 6)")
            .collect()
        }
        assert got == {5: 1.5, 6: None}


class TestReviewRound7Fixes:
    """Regression pins for the round-7 self-review findings: evolved
    columns surviving rewrite/delete, sketch-domain inheritance, and
    the CDF-tailable position-delete CDC mode."""

    def _evolved(self, spark, path, cdf=False):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        snap.commit_snapshot(
            spark,
            spark.range(100)
            .selectExpr("id AS k", "CAST(id % 3 AS STRING) AS seg")
            .repartitionByRange(4, "k"),
            path,
            stats_cols=["k"],
            change_feed=cdf,
        )
        snap.merge_snapshot(
            spark,
            spark.createDataFrame(
                [(5, "X", 9.5)], "k long, seg string, quality double"
            ),
            path,
            "k",
            stats_cols=["k"],
        )
        return path

    def test_rewrite_preserves_merge_evolved_column(self, spark, tmp_path):
        """rewrite_snapshot (compaction/recluster) must not DROP a
        column added by merge evolution — the overwrite reads the
        recorded union schema (review finding #1: data loss)."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = self._evolved(spark, str(tmp_path / "layer"))
        snap.rewrite_snapshot(spark, path, n_files=2)
        df = snap.read_snapshot(spark, path)
        assert "quality" in df.columns
        got = {r["k"]: r["quality"] for r in df.where("k IN (5, 6)").collect()}
        assert got == {5: 9.5, 6: None}

    def test_delete_scan_and_cdf_see_evolved_column(self, spark, tmp_path):
        """delete_snapshot's candidate scan reads the recorded schema: a
        predicate naming the evolved column works, and the recorded
        change file carries its values (review finding #2)."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = self._evolved(spark, str(tmp_path / "layer"), cdf=True)
        res = snap.delete_snapshot(spark, path, "quality > 9")
        assert res["rows_deleted"] == 1
        head = snap.snapshot_versions(spark, path)[-1]
        feed = snap.snapshot_changes(spark, path, head - 1, head).collect()
        assert [(r["change_type"], r["k"], r["quality"]) for r in feed] == [
            ("delete", 5, 9.5)
        ]

    def test_sketch_domain_inherited_from_legacy_layer(
        self, spark, tmp_path
    ):
        """An append to a layer whose sketches predate domain recording
        writes STRING-domain sketches (the legacy domain), so NDV keeps
        working instead of degrading to mixed-domain None (review
        finding #5)."""
        import json as _json
        import os

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        snap.commit_snapshot(
            spark,
            spark.range(100).selectExpr("id % 10 AS k"),
            path,
            stats_cols=["k"],
        )

        # forge a LEGACY layer: strip stat_doms from the manifest and
        # re-tag + re-sketch the segment colmeta in the string domain
        def _rewrite(fp, fn):
            doc = _json.load(open(fp))
            fn(doc)
            with open(fp, "w") as fh:
                fh.write(_json.dumps(doc))
            d, n = os.path.split(fp)
            crc = os.path.join(d, f".{n}.crc")
            if os.path.exists(crc):
                os.remove(crc)

        import base64

        legacy = (
            spark.range(100)
            .selectExpr("CAST(id % 10 AS STRING) AS s")
            .agg(F_hll("s"))
            .first()[0]
        )
        m1 = snap._manifest_raw(spark, path, 1)
        _rewrite(
            os.path.join(path, "_manifests", "v1.json"),
            lambda d: d.pop("stat_doms", None),
        )

        def fix_seg(d):
            for b in d["colmeta"]:
                d["colmeta"][b]["k"].pop("dom", None)
                d["colmeta"][b]["k"]["hll"] = base64.b64encode(
                    bytes(legacy)
                ).decode("ascii")

        for e in m1["segments"]:
            _rewrite(e["path"].removeprefix("file:"), fix_seg)
        # append: inherited domain must be STRING (matching the legacy
        # sketches), so the union stays single-domain and NDV works
        snap.commit_snapshot(
            spark,
            spark.range(100, 120).selectExpr("id % 10 AS k"),
            path,
            mode="append",
            stats_cols=["k"],
        )
        m2 = snap._manifest_raw(spark, path, 2)
        assert m2["stat_doms"]["k"] == "string"
        st = snap.snapshot_col_stats(spark, path)
        assert st["columns"]["k"]["ndv"] is not None
        assert abs(st["columns"]["k"]["ndv"] - 10) <= 1

    def test_cdc_position_mode_stays_cdf_tailable(self, spark, tmp_path):
        """delete_mode='position' on the CDC writer records delete
        pre-images, so the whole CDC-maintained lifecycle feeds the
        O(delta) change route with zero fallbacks — and replays still
        no-op (review finding #6)."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        from aie321_bigdata_movie_kpi_1m_spark.streaming.snapshot_sink import (
            snapshot_cdc_writer,
        )

        path = str(tmp_path / "layer")
        wb = snapshot_cdc_writer(
            path, "k", resolve=["seq"], delete_mode="position"
        )
        keys_base = snap._POS_DELETE_DRIVER_KEYS["n"]
        b0 = spark.createDataFrame(
            [(1, "a", 1, "upsert"), (2, "b", 1, "upsert")],
            "k long, v string, seq long, op string",
        )
        # bootstrap commit must carry the cdf property for later merges
        snap.commit_snapshot(
            spark,
            b0.limit(0).drop("op"),
            path,
            stats_cols=["k"],
            change_feed=True,
        )
        wb(b0, 0)
        b1 = spark.createDataFrame(
            [(2, "b2", 2, "upsert"), (1, None, 2, "delete")],
            "k long, v string, seq long, op string",
        )
        wb(b1, 1)
        head = snap.snapshot_versions(spark, path)[-1]
        base = snap._CDF_FALLBACKS["n"]
        feed = snap.snapshot_changes(spark, path, 1, head)
        rows = sorted(
            (r["change_type"], r["k"], r["v"]) for r in feed.collect()
        )
        assert snap._CDF_FALLBACKS["n"] == base  # fully CDF-covered
        assert ("delete", 1, "a") in rows  # full pre-image recorded
        got = {
            (r["k"], r["v"])
            for r in snap.read_snapshot(spark, path)
            .select("k", "v")
            .collect()
        }
        assert got == {(2, "b2")}
        # replay both halves: no-ops
        wb(b1, 1)
        assert snap.snapshot_versions(spark, path)[-1] == head
        # BOTH delete modes are driver-free now (r8 verdict item 8):
        # the position scan is a broadcast semi-join against the keys
        # frame, never an IN-literal collect
        assert snap._POS_DELETE_DRIVER_KEYS["n"] == keys_base

    def test_delete_snapshot_keys_form(self, spark, tmp_path):
        """delete_snapshot(keys=...): broadcast-semi-join position
        delete — DataFrame keys ship zero driver values, list keys are
        counted, empty key sets no-op, and exactly one of
        predicate/keys is required."""
        import pytest

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        snap.commit_snapshot(
            spark,
            spark.range(100).selectExpr("id AS k", "id * 2 AS v"),
            path,
            stats_cols=["k"],
        )
        base = snap._POS_DELETE_DRIVER_KEYS["n"]
        keys = spark.createDataFrame([(3,), (7,), (7,)], "k long")
        r = snap.delete_snapshot(spark, path, keys=("k", keys))
        assert r["rows_deleted"] == 2
        assert snap._POS_DELETE_DRIVER_KEYS["n"] == base  # zero hops
        left = {r2["k"] for r2 in snap.read_snapshot(spark, path).collect()}
        assert 3 not in left and 7 not in left and len(left) == 98
        # list form: interactive probe, driver volume counted
        r = snap.delete_snapshot(spark, path, keys=("k", [10, 11]))
        assert r["rows_deleted"] == 2
        assert snap._POS_DELETE_DRIVER_KEYS["n"] == base + 2
        # empty key set: no-op, no version churn
        head = snap.snapshot_versions(spark, path)[-1]
        r = snap.delete_snapshot(
            spark, path, keys=("k", spark.range(0).selectExpr("id AS k"))
        )
        assert r["rows_deleted"] == 0
        assert snap.snapshot_versions(spark, path)[-1] == head
        with pytest.raises(ValueError, match="exactly one"):
            snap.delete_snapshot(spark, path)
        with pytest.raises(ValueError, match="exactly one"):
            snap.delete_snapshot(spark, path, "k = 1", keys=("k", [1]))


def F_hll(col):
    from pyspark.sql import functions as F

    return F.hll_sketch_agg(F.col(col))


class TestTableCatalog:
    """Versioned table catalog: multi-table atomic commits and
    cross-table consistent reads (sources/table_catalog.py)."""

    def _base(self, spark, cat, pa, pb, tc):
        tc.multi_table_commit(
            spark,
            cat,
            [
                (
                    "orders",
                    spark.range(10).selectExpr("id AS k", "id * 10 AS amt"),
                    pa,
                    {"stats_cols": ["k"]},
                ),
                (
                    "dim",
                    spark.createDataFrame(
                        [(0, "bronze"), (1, "silver")], "grp long, tier string"
                    ),
                    pb,
                    {},
                ),
            ],
        )

    def test_atomic_swap_and_consistent_time_travel(self, spark, tmp_path):
        import aie321_bigdata_movie_kpi_1m_spark.sources.table_catalog as tc

        cat = str(tmp_path / "cat")
        pa, pb = str(tmp_path / "orders"), str(tmp_path / "dim")
        self._base(spark, cat, pa, pb, tc)
        assert tc.catalog_versions(spark, cat) == [1]
        # transaction 2: new facts AND a re-tiered dim, one swap
        v = tc.multi_table_commit(
            spark,
            cat,
            [
                (
                    "orders",
                    spark.range(10, 15).selectExpr("id AS k", "id * 10 AS amt"),
                    pa,
                    {"mode": "append", "stats_cols": ["k"]},
                ),
                (
                    "dim",
                    spark.createDataFrame(
                        [(0, "gold"), (1, "gold")], "grp long, tier string"
                    ),
                    pb,
                    {},
                ),
            ],
        )
        assert v == 2
        # head: new facts join the NEW dim
        head_orders = tc.read_catalog_table(spark, cat, "orders")
        head_dim = tc.read_catalog_table(spark, cat, "dim")
        assert head_orders.count() == 15
        assert {r["tier"] for r in head_dim.collect()} == {"gold"}
        # catalog v1: old facts AND old dim together — never a mix
        old_orders = tc.read_catalog_table(spark, cat, "orders", catalog_version=1)
        old_dim = tc.read_catalog_table(spark, cat, "dim", catalog_version=1)
        assert old_orders.count() == 10
        assert {r["tier"] for r in old_dim.collect()} == {"bronze", "silver"}
        hist = {
            (r["catalog_version"], r["table"]): r["layer_version"]
            for r in tc.catalog_history(spark, cat).collect()
        }
        assert hist[(1, "orders")] == 1 and hist[(2, "orders")] == 2
        assert hist[(1, "dim")] == 1 and hist[(2, "dim")] == 2

    def test_crash_before_swap_is_invisible_through_catalog(
        self, spark, tmp_path
    ):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        import aie321_bigdata_movie_kpi_1m_spark.sources.table_catalog as tc

        cat = str(tmp_path / "cat")
        pa, pb = str(tmp_path / "orders"), str(tmp_path / "dim")
        self._base(spark, cat, pa, pb, tc)
        # a transaction that "crashed" after its layer commit but before
        # the catalog swap: durable in the layer, invisible via catalog
        snap.commit_snapshot(
            spark,
            spark.range(100, 200).selectExpr("id AS k", "id AS amt"),
            pa,
            mode="append",
        )
        assert snap.read_snapshot(spark, pa).count() == 110  # layer-direct
        assert tc.read_catalog_table(spark, cat, "orders").count() == 10
        # the next SUCCESSFUL transaction pins whatever layer version it
        # itself committed (the orphaned layer version stays historical)
        tc.multi_table_commit(
            spark,
            cat,
            [
                (
                    "orders",
                    spark.range(200, 203).selectExpr("id AS k", "id AS amt"),
                    pa,
                    {"mode": "append"},
                )
            ],
        )
        assert tc.read_catalog_table(spark, cat, "orders").count() == 113
        # and the untouched table carried through the rebase
        assert tc.read_catalog_table(spark, cat, "dim").count() == 2

    def test_concurrent_disjoint_transactions_rebase(
        self, spark, tmp_path, monkeypatch
    ):
        """A swap losing the catalog race re-bases onto the winner's map:
        two transactions over DISJOINT tables both land, neither erases
        the other's pin (the injected intruder commits between the
        loser's base read and its swap)."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.table_catalog as tc

        cat = str(tmp_path / "cat")
        pa, pb = str(tmp_path / "orders"), str(tmp_path / "dim")
        self._base(spark, cat, pa, pb, tc)
        orig = tc.commit_catalog
        hits = {"n": 0}

        def racy(spark_, cat_path, tables, **kw):
            if hits["n"] == 0:
                hits["n"] += 1
                # intruder transaction wins first: re-pins dim -> v2
                base = tc.catalog_tables(spark_, cat_path)
                orig(
                    spark_,
                    cat_path,
                    {**base, "dim": {"path": pb, "version": 2}},
                )
            return orig(spark_, cat_path, tables, **kw)

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        snap.commit_snapshot(
            spark,
            spark.createDataFrame([(9, "x")], "grp long, tier string"),
            pb,
            mode="append",
        )  # dim layer v2 for the intruder to pin
        monkeypatch.setattr(tc, "commit_catalog", racy)
        tc.multi_table_commit(
            spark,
            cat,
            [
                (
                    "orders",
                    spark.range(10, 12).selectExpr("id AS k", "id AS amt"),
                    pa,
                    {"mode": "append"},
                )
            ],
        )
        monkeypatch.undo()
        tables = tc.catalog_tables(spark, cat)
        # loser re-based: its orders pin landed AND the intruder's dim
        # pin survived
        assert tables["orders"]["version"] == 2
        assert tables["dim"]["version"] == 2
        assert tc.read_catalog_table(spark, cat, "dim").count() == 3

    def test_vacuum_catalog_reports_min_pins(self, spark, tmp_path):
        import aie321_bigdata_movie_kpi_1m_spark.sources.table_catalog as tc

        cat = str(tmp_path / "cat")
        pa, pb = str(tmp_path / "orders"), str(tmp_path / "dim")
        self._base(spark, cat, pa, pb, tc)
        for i in range(3):
            tc.multi_table_commit(
                spark,
                cat,
                [
                    (
                        "orders",
                        spark.range(100 + i, 101 + i).selectExpr(
                            "id AS k", "id AS amt"
                        ),
                        pa,
                        {"mode": "append"},
                    )
                ],
            )
        assert tc.catalog_versions(spark, cat) == [1, 2, 3, 4]
        rep = tc.vacuum_catalog(spark, cat, keep_last=2)
        assert rep["dropped_versions"] == [1, 2]
        assert tc.catalog_versions(spark, cat) == [3, 4]
        # the surviving pins name the layer retention floor, keyed by
        # layer PATH (a repointed table name must not collapse two
        # paths): orders' oldest surviving pin is layer v3 (catalog
        # v3), dim stayed at 1
        assert rep["min_pinned"][pa]["version"] == 3
        assert rep["min_pinned"][pa]["tables"] == ["orders"]
        assert rep["min_pinned"][pb]["version"] == 1
        assert rep["min_pinned"][pb]["tables"] == ["dim"]
        # reads through surviving versions still resolve
        assert (
            tc.read_catalog_table(spark, cat, "orders", catalog_version=3)
            .count()
            == 12
        )
        import pytest

        with pytest.raises(FileNotFoundError):
            tc.catalog_tables(spark, cat, 1)

    def test_vacuum_catalog_repointed_table_pins_both_paths(
        self, spark, tmp_path
    ):
        """A table REPOINTED to a new layer path mid-history: surviving
        catalog versions pin the SAME name at TWO paths, and min_pinned
        must retain a retention floor for BOTH — a name-keyed map would
        drop one and let a layer vacuum reclaim a still-pinned
        version."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.table_catalog as tc

        cat = str(tmp_path / "cat")
        old_p, new_p = str(tmp_path / "orders_old"), str(tmp_path / "orders_new")
        df = spark.range(5).selectExpr("id AS k")
        tc.multi_table_commit(spark, cat, [("orders", df, old_p, {})])
        # repoint: same table name, brand-new layer path
        tc.multi_table_commit(spark, cat, [("orders", df, new_p, {})])
        rep = tc.vacuum_catalog(spark, cat, keep_last=2)
        assert rep["dropped_versions"] == []
        # BOTH paths survive with their own floors
        assert rep["min_pinned"][old_p] == {"tables": ["orders"], "version": 1}
        assert rep["min_pinned"][new_p] == {"tables": ["orders"], "version": 1}

    def test_multi_table_commit_retries_member_layer_occ_loss(
        self, spark, tmp_path, monkeypatch
    ):
        """A transaction losing the LAYER-level OCC race on a member
        table retries the staged commit instead of failing the whole
        transaction (the staging loop runs under retry_commit)."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.table_catalog as tc

        cat = str(tmp_path / "cat")
        pa = str(tmp_path / "orders")
        self._base(spark, cat, pa, str(tmp_path / "dim"), tc)
        real = tc.commit_snapshot
        fails = {"n": 0}

        def flaky(spark_, df, path, **kw):
            if fails["n"] == 0:
                fails["n"] += 1
                raise FileExistsError("simulated member-layer OCC loss")
            return real(spark_, df, path, **kw)

        monkeypatch.setattr(tc, "commit_snapshot", flaky)
        v = tc.multi_table_commit(
            spark,
            cat,
            [
                (
                    "orders",
                    spark.range(100, 103).selectExpr("id AS k", "id AS amt"),
                    pa,
                    {"mode": "append"},
                )
            ],
        )
        monkeypatch.undo()
        assert fails["n"] == 1  # first attempt lost, retry landed
        assert v == 2
        assert tc.read_catalog_table(spark, cat, "orders").count() == 13

    def test_catalog_publish_writer_replay_idempotent(self, spark, tmp_path):
        """The streaming multi-table publisher: a checkpoint-replayed
        batch no-ops BOTH levels — layer commits return their pinned
        versions (txn markers) and the catalog swap skips on unchanged
        pins, so no catalog version churn."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.table_catalog as tc
        from aie321_bigdata_movie_kpi_1m_spark.streaming.snapshot_sink import (
            catalog_publish_writer,
        )

        cat = str(tmp_path / "cat")
        pa, pb = str(tmp_path / "docs"), str(tmp_path / "stats")

        def plan(batch_df):
            stats = batch_df.groupBy("source").agg(
                F.count(F.lit(1)).alias("n_docs")
            )
            return [
                ("docs", batch_df, pa, {"mode": "append"}),
                ("doc_stats", stats, pb, {"mode": "append"}),
            ]

        wb = catalog_publish_writer(cat, plan, app_id="pub")
        b0 = spark.createDataFrame(
            [(1, "web"), (2, "web"), (3, "book")], "doc_id long, source string"
        )
        b1 = spark.createDataFrame([(4, "web")], "doc_id long, source string")
        wb(b0, 0)
        wb(b1, 1)
        assert tc.catalog_versions(spark, cat) == [1, 2]
        head = tc.catalog_tables(spark, cat)
        wb(b1, 1)  # replayed batch: both levels no-op
        assert tc.catalog_versions(spark, cat) == [1, 2]
        assert tc.catalog_tables(spark, cat) == head
        # consistency at every version: stats sum == docs count
        for cv in (1, 2):
            nd = tc.read_catalog_table(
                spark, cat, "docs", catalog_version=cv
            ).count()
            ns = (
                tc.read_catalog_table(
                    spark, cat, "doc_stats", catalog_version=cv
                )
                .agg(F.sum("n_docs"))
                .first()[0]
            )
            assert nd == int(ns) == (3 if cv == 1 else 4)

    def test_streaming_wap_audit_failure_and_replay(self, spark, tmp_path):
        """Streaming WAP (r13 verdict item #6): a good batch publishes
        through its branch; a batch with an audit violation publishes
        NOTHING (catalog untouched, bad rows preserved on the branch
        for inspection); a replayed good batch no-ops every level; and
        after repair the SAME batch id publishes cleanly."""
        import pytest

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        import aie321_bigdata_movie_kpi_1m_spark.sources.table_catalog as tc
        from aie321_bigdata_movie_kpi_1m_spark.streaming.snapshot_sink import (
            wap_publish_writer,
        )

        cat = str(tmp_path / "cat")
        docs_layer = str(tmp_path / "docs")
        v = snap.commit_snapshot(
            spark,
            spark.createDataFrame([(0, "seed")], "doc_id long, t string"),
            docs_layer,
        )
        tc.commit_catalog(spark, cat, {"docs": {"path": docs_layer, "version": v}})

        wb = wap_publish_writer(
            cat,
            lambda df: [("docs", df, {})],
            branch_root=str(tmp_path / "branches"),
            checks={"docs": {"t_set": "t IS NOT NULL"}},
            app_id="wap",
        )
        good = spark.createDataFrame(
            [(1, "a"), (2, "b")], "doc_id long, t string"
        )
        wb(good, 0)
        assert tc.catalog_versions(spark, cat) == [1, 2]
        assert tc.read_catalog_table(spark, cat, "docs").count() == 3
        # replayed batch: branch reused, append no-ops on the txn mark,
        # swap skips — no catalog churn, no doubled rows
        wb(good, 0)
        assert tc.catalog_versions(spark, cat) == [1, 2]
        assert tc.read_catalog_table(spark, cat, "docs").count() == 3
        # bad batch: audit refuses, NOTHING published, branch keeps the
        # bad rows for inspection
        bad = spark.createDataFrame(
            [(3, "c"), (4, None)], "doc_id long, t string"
        )
        with pytest.raises(ValueError, match="NOTHING published"):
            wb(bad, 1)
        assert tc.catalog_versions(spark, cat) == [1, 2]
        assert tc.read_catalog_table(spark, cat, "docs").count() == 3
        bp1 = str(tmp_path / "branches" / "docs_b1")
        assert (
            snap.read_snapshot(spark, bp1)
            .filter(F.col("t").isNull())
            .count()
            == 1
        )
        # repair: drop the poisoned branch remnant, replay the batch id
        # with repaired data — publishes as catalog v3
        snap.drop_snapshot_layer(spark, bp1, force=True)
        repaired = spark.createDataFrame(
            [(3, "c"), (4, "d")], "doc_id long, t string"
        )
        wb(repaired, 1)
        assert tc.catalog_versions(spark, cat) == [1, 2, 3]
        assert tc.read_catalog_table(spark, cat, "docs").count() == 5

class TestWriteAuditPublish:
    """Catalog-level WAP branching: fork isolation, audit gating,
    atomic repoint, stale-source refusal, provenance guard."""

    def _published(self, spark, tmp_path, tc, snap):
        cat = str(tmp_path / "cat")
        docs = str(tmp_path / "docs")
        v = snap.commit_snapshot(
            spark,
            spark.createDataFrame(
                [(i, f"text {i}") for i in range(20)],
                "doc_id long, text string",
            ),
            docs,
            stats_cols=["doc_id"],
        )
        tc.commit_catalog(spark, cat, {"docs": {"path": docs, "version": v}})
        return cat, docs

    def test_branch_isolated_then_published_atomically(
        self, spark, tmp_path
    ):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        import aie321_bigdata_movie_kpi_1m_spark.sources.table_catalog as tc

        cat, docs = self._published(spark, tmp_path, tc, snap)
        br = str(tmp_path / "audit1")
        rec = tc.wap_branch(spark, cat, "docs", br, audit_id="b1")
        assert rec["source_version"] == 1 and rec["table"] == "docs"
        # the full layer API on the branch: append + MoR delete
        snap.commit_snapshot(
            spark,
            spark.createDataFrame(
                [(100 + i, f"new {i}") for i in range(5)],
                "doc_id long, text string",
            ),
            br,
            mode="append",
            stats_cols=["doc_id"],
        )
        snap.delete_snapshot(spark, br, "doc_id % 10 = 7")
        # isolation: the catalog keeps serving the published 20 rows
        assert tc.read_catalog_table(spark, cat, "docs").count() == 20
        assert tc.wap_audit(
            spark, br, {"ids": "doc_id IS NOT NULL"}
        ) == {"ids": 0}
        cv = tc.wap_publish(
            spark, cat, br, checks={"ids": "doc_id IS NOT NULL"}
        )
        after = tc.read_catalog_table(spark, cat, "docs")
        # 20 + 5 - deleted {7, 17} (none of 100-104 hits % 10 = 7)
        assert after.count() == 23
        assert tc.catalog_tables(spark, cat)["docs"]["path"] == br
        # a replayed publish is a catalog no-op, not version churn
        assert tc.wap_publish(spark, cat, br) == cv
        # history records the repoint
        hist = {
            (r["catalog_version"], r["layer_version"])
            for r in tc.catalog_history(spark, cat).collect()
        }
        # branch lineage: clone v1 -> append v2 -> MoR delete v3
        assert (1, 1) in hist and (cv, 3) in hist

    def test_audit_failure_blocks_publish_and_branch_is_fixable(
        self, spark, tmp_path
    ):
        import pytest

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        import aie321_bigdata_movie_kpi_1m_spark.sources.table_catalog as tc

        cat, docs = self._published(spark, tmp_path, tc, snap)
        br = str(tmp_path / "audit1")
        tc.wap_branch(spark, cat, "docs", br)
        # bad batch lands ON THE BRANCH (WAP allows that: the audit
        # gates the publish, not the write)
        snap.commit_snapshot(
            spark,
            spark.createDataFrame(
                [(None, "orphan"), (200, "fine")],
                "doc_id long, text string",
            ),
            br,
            mode="append",
        )
        with pytest.raises(ValueError, match="audit failed"):
            tc.wap_publish(
                spark, cat, br, checks={"ids": "doc_id IS NOT NULL"}
            )
        # nothing published — readers still see the old 20 rows
        assert tc.read_catalog_table(spark, cat, "docs").count() == 20
        # repair the branch (delete the orphan row), then publish
        snap.delete_snapshot(spark, br, "doc_id IS NULL")
        tc.wap_publish(spark, cat, br, checks={"ids": "doc_id IS NOT NULL"})
        assert tc.read_catalog_table(spark, cat, "docs").count() == 21

    def test_stale_source_publish_refused_then_forced(
        self, spark, tmp_path
    ):
        import pytest

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        import aie321_bigdata_movie_kpi_1m_spark.sources.table_catalog as tc

        cat, docs = self._published(spark, tmp_path, tc, snap)
        br1, br2 = str(tmp_path / "b1"), str(tmp_path / "b2")
        tc.wap_branch(spark, cat, "docs", br1)
        tc.wap_branch(spark, cat, "docs", br2)
        snap.commit_snapshot(
            spark,
            spark.createDataFrame([(300, "x")], "doc_id long, text string"),
            br1,
            mode="append",
        )
        tc.wap_publish(spark, cat, br1)
        # br2 forked from the now-stale pin: refuse (lost-update guard)
        with pytest.raises(RuntimeError, match="moved since the fork"):
            tc.wap_publish(spark, cat, br2)
        assert tc.read_catalog_table(spark, cat, "docs").count() == 21
        # forced last-writer-wins is explicit and recorded in history
        tc.wap_publish(spark, cat, br2, expect_unchanged=False)
        assert tc.read_catalog_table(spark, cat, "docs").count() == 20

    def test_non_branch_layer_refused(self, spark, tmp_path):
        import pytest

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        import aie321_bigdata_movie_kpi_1m_spark.sources.table_catalog as tc

        cat, docs = self._published(spark, tmp_path, tc, snap)
        plain = str(tmp_path / "plain")
        snap.commit_snapshot(
            spark,
            spark.createDataFrame([(1, "y")], "doc_id long, text string"),
            plain,
        )
        with pytest.raises(FileNotFoundError, match="not a WAP branch"):
            tc.wap_publish(spark, cat, plain)

    def test_multi_table_wap_all_or_nothing(self, spark, tmp_path):
        """Cross-table WAP: facts and dims branch independently, ONE
        swap publishes both; a failed audit on either branch publishes
        NEITHER."""
        import pytest

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        import aie321_bigdata_movie_kpi_1m_spark.sources.table_catalog as tc

        cat = str(tmp_path / "cat")
        pf, pd = str(tmp_path / "facts"), str(tmp_path / "dims")
        vf = snap.commit_snapshot(
            spark,
            spark.createDataFrame(
                [(i, i % 3) for i in range(12)], "k long, g long"
            ),
            pf,
        )
        vd = snap.commit_snapshot(
            spark,
            spark.createDataFrame(
                [(0, "a"), (1, "b"), (2, "c")], "g long, label string"
            ),
            pd,
        )
        tc.commit_catalog(
            spark,
            cat,
            {
                "facts": {"path": pf, "version": vf},
                "dims": {"path": pd, "version": vd},
            },
        )
        bf, bd = str(tmp_path / "bf"), str(tmp_path / "bd")
        tc.wap_branch(spark, cat, "facts", bf)
        tc.wap_branch(spark, cat, "dims", bd)
        # facts gain a row of a NEW group; dims gain its label — only a
        # joint publish keeps the join invariant (no orphan group)
        snap.commit_snapshot(
            spark,
            spark.createDataFrame([(100, 3)], "k long, g long"),
            bf,
            mode="append",
        )
        # dims branch FIRST gets a bad batch (NULL label) — the audit
        # must refuse the WHOLE transaction
        snap.commit_snapshot(
            spark,
            spark.createDataFrame([(3, None)], "g long, label string"),
            bd,
            mode="append",
        )
        cks = {bd: {"labeled": "label IS NOT NULL"}}
        with pytest.raises(ValueError, match="NOTHING published"):
            tc.wap_publish_many(spark, cat, [bf, bd], checks=cks)
        assert tc.read_catalog_table(spark, cat, "facts").count() == 12
        assert tc.read_catalog_table(spark, cat, "dims").count() == 3
        # repair dims, publish both in ONE swap
        snap.delete_snapshot(spark, bd, "label IS NULL")
        snap.commit_snapshot(
            spark,
            spark.createDataFrame([(3, "d")], "g long, label string"),
            bd,
            mode="append",
        )
        before = tc.catalog_versions(spark, cat)[-1]
        cv = tc.wap_publish_many(spark, cat, [bf, bd], checks=cks)
        assert cv == before + 1  # one atomic swap, not one per table
        facts = tc.read_catalog_table(spark, cat, "facts")
        dims = tc.read_catalog_table(spark, cat, "dims")
        assert facts.count() == 13 and dims.count() == 4
        # the join invariant the joint publish protected
        assert (
            facts.join(dims, "g", "left_anti").count() == 0
        )
        # a merely-duplicated branch path and two DIFFERENT branches of
        # the same table are distinct failures, each named precisely
        # (ADVICE r13): the duplicate path names the path, the genuine
        # conflict names the table and both branches
        with pytest.raises(ValueError, match="listed more than once"):
            tc.wap_publish_many(spark, cat, [bf, bf])
        bf2 = str(tmp_path / "bf2")
        tc.wap_branch(spark, cat, "facts", bf2)
        with pytest.raises(ValueError, match="'facts'"):
            tc.wap_publish_many(spark, cat, [bf, bf2])


class TestSnapshotPins:
    """Back-reference pins (ADVICE r13): a shallow clone / WAP branch
    references the source version's data files IN PLACE, so the source's
    vacuum must keep that version and its drop must refuse while the
    dependency lives — otherwise a routine retention job silently
    corrupts the published table."""

    def _layer(self, spark, tmp_path, n=3):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        p = str(tmp_path / "src")
        for i in range(n):
            snap.commit_snapshot(
                spark,
                spark.createDataFrame([(i, i * 10)], "k long, v long"),
                p,
                mode="append" if i else "overwrite",
            )
        return p

    def test_vacuum_keeps_pinned_version_and_its_files(
        self, spark, tmp_path
    ):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        p = self._layer(spark, tmp_path, n=4)
        snap.pin_snapshot_version(spark, p, 2, ref="clone://dep")
        rep = snap.vacuum_snapshots(
            spark, p, keep_last=1, orphan_grace_seconds=0
        )
        assert rep["pinned_versions_kept"] == [2]
        assert 2 not in rep["dropped_versions"]
        # the pinned version still READS — its manifest and data files
        # all survived the GC pass
        assert snap.read_snapshot(spark, p, version=2).count() == 2
        # release the pin: the next vacuum reclaims it
        assert snap.unpin_snapshot_version(spark, p, ref="clone://dep")
        rep2 = snap.vacuum_snapshots(
            spark, p, keep_last=1, orphan_grace_seconds=0
        )
        assert 2 in rep2["dropped_versions"]
        assert rep2["pinned_versions_kept"] == []

    def test_pin_is_idempotent_per_ref_and_validates_version(
        self, spark, tmp_path
    ):
        import pytest

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        p = self._layer(spark, tmp_path, n=2)
        snap.pin_snapshot_version(spark, p, 1, ref="a")
        snap.pin_snapshot_version(spark, p, 2, ref="a")  # re-pin: moves
        snap.pin_snapshot_version(spark, p, 1, ref="b")
        pins = snap.snapshot_pins(spark, p)
        assert [(r["version"], r["ref"]) for r in pins] == [(1, "b"), (2, "a")]
        with pytest.raises(FileNotFoundError, match="cannot pin"):
            snap.pin_snapshot_version(spark, p, 99, ref="c")
        assert not snap.unpin_snapshot_version(spark, p, ref="never")

    def test_drop_refuses_pinned_layer_unless_forced(self, spark, tmp_path):
        import pytest

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        p = self._layer(spark, tmp_path, n=1)
        snap.pin_snapshot_version(spark, p, 1, ref="clone://dep")
        with pytest.raises(RuntimeError, match="drop refused"):
            snap.drop_snapshot_layer(spark, p)
        assert snap.snapshot_versions(spark, p) == [1]
        snap.drop_snapshot_layer(spark, p, force=True)
        assert snap.snapshot_versions(spark, p) == []

    def test_wap_branch_pins_source_and_retire_releases(
        self, spark, tmp_path
    ):
        import pytest

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        import aie321_bigdata_movie_kpi_1m_spark.sources.table_catalog as tc

        cat, p, br = (
            str(tmp_path / "cat"),
            str(tmp_path / "docs"),
            str(tmp_path / "br"),
        )
        v = snap.commit_snapshot(
            spark, spark.createDataFrame([(1, "x")], "k long, t string"), p
        )
        tc.commit_catalog(spark, cat, {"docs": {"path": p, "version": v}})
        tc.wap_branch(spark, cat, "docs", br)
        # the fork recorded the dependency where the source's GC looks
        assert [(r["version"], r["ref"]) for r in snap.snapshot_pins(
            spark, p
        )] == [(v, br)]
        with pytest.raises(RuntimeError, match="drop refused"):
            snap.drop_snapshot_layer(spark, p)
        # an abandoned branch retires cleanly: pin released, branch gone
        tc.wap_retire_branch(spark, cat, br)
        assert snap.snapshot_pins(spark, p) == []
        assert snap.snapshot_versions(spark, br) == []
        # a PUBLISHED branch refuses to retire — it IS the table now
        br2 = str(tmp_path / "br2")
        tc.wap_branch(spark, cat, "docs", br2)
        snap.commit_snapshot(
            spark,
            spark.createDataFrame([(2, "y")], "k long, t string"),
            br2,
            mode="append",
        )
        tc.wap_publish(spark, cat, br2)
        with pytest.raises(RuntimeError, match="retire refused"):
            tc.wap_retire_branch(spark, cat, br2)

    def test_audit_pins_branch_version_against_races(self, spark, tmp_path):
        """The TOCTOU closure: wap_publish audits and publishes the SAME
        pinned branch version, so a commit landing after the pin is NOT
        published (and therefore needs no audit)."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        import aie321_bigdata_movie_kpi_1m_spark.sources.table_catalog as tc

        cat, p, br = (
            str(tmp_path / "cat"),
            str(tmp_path / "docs"),
            str(tmp_path / "br"),
        )
        v = snap.commit_snapshot(
            spark, spark.createDataFrame([(1, "x")], "k long, t string"), p
        )
        tc.commit_catalog(spark, cat, {"docs": {"path": p, "version": v}})
        tc.wap_branch(spark, cat, "docs", br)
        snap.commit_snapshot(
            spark,
            spark.createDataFrame([(2, "y")], "k long, t string"),
            br,
            mode="append",
        )
        good_head = snap.snapshot_versions(spark, br)[-1]
        # a BAD commit races in; audited at the pinned version it is
        # invisible, and the publish pins exactly the audited version
        snap.commit_snapshot(
            spark,
            spark.createDataFrame([(3, None)], "k long, t string"),
            br,
            mode="append",
        )
        assert tc.wap_audit(
            spark, br, {"t_set": "t IS NOT NULL"}, version=good_head
        ) == {"t_set": 0}
        # full-head audit DOES see the bad row — the pin is what changed
        assert tc.wap_audit(spark, br, {"t_set": "t IS NOT NULL"}) == {
            "t_set": 1
        }


class TestStreamReaderSubstrateGuard:
    """The Python stream source reads manifests with plain file IO and
    is file://-only by design; a remote scheme must raise at
    construction instead of failing silently (ADVICE r8: an empty
    version listing reading as 'no data', or the equality-delete
    pre-image cache probe never hitting an existing cache)."""

    def test_remote_scheme_rejected(self):
        import pytest

        from aie321_bigdata_movie_kpi_1m_spark.sources.pyds import (
            _SnapshotStreamReader,
        )

        for bad in ("s3a://bucket/layer", "hdfs://nn:8020/layer",
                    "abfss://c@a.dfs.core.windows.net/layer"):
            with pytest.raises(ValueError, match="file://"):
                _SnapshotStreamReader({"path": bad, "cols": "k"})

    def test_file_scheme_and_schemeless_accepted(self, tmp_path):
        from aie321_bigdata_movie_kpi_1m_spark.sources.pyds import (
            _SnapshotStreamReader,
        )

        p = str(tmp_path / "layer")
        for ok in (p, f"file:{p}", f"file://{p}"):
            r = _SnapshotStreamReader({"path": ok, "cols": "k"})
            assert r._path == p
            assert r._versions() == []  # no manifests yet, not a crash

    def test_single_slash_hadoop_uris_rejected(self):
        """ADVICE r9: the '://'-only split let single-slash Hadoop URIs
        ('hdfs:/warehouse/t') parse as scheme '' and fall through to
        plain file IO — exactly the silent no-data failure the guard
        exists to stop.  ANY non-file RFC-3986 scheme prefix raises."""
        import pytest

        from aie321_bigdata_movie_kpi_1m_spark.sources.pyds import (
            _SnapshotStreamReader,
        )

        for bad in ("hdfs:/warehouse/t", "s3:/bucket/t", "s3a:/b/t",
                    "gs:/b/t", "wasb:/c/t"):
            with pytest.raises(ValueError, match="file://"):
                _SnapshotStreamReader({"path": bad, "cols": "k"})


class TestMaintenancePlan:
    """snapshot_maintenance_plan: the metadata-only advisor (round-8
    verdict item 5) and its act-then-replan loop — recommend, run the
    maintenance, recommendations clear."""

    def _plan(self, spark, path, **kw):
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            snapshot_maintenance_plan,
        )

        rows = snapshot_maintenance_plan(
            spark, path, target_rows_per_file=24, **kw
        ).collect()
        return {r["action"]: r for r in rows}

    def test_act_then_replan_loop(self, spark, tmp_path):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        docs = spark.range(120).selectExpr("id AS doc_id")
        for i in range(12):
            snap.commit_snapshot(
                spark,
                docs.filter(F.col("doc_id") % 12 == i).repartition(1),
                path,
                mode="overwrite" if i == 0 else "append",
                stats_cols=["doc_id"],
            )
        plan = self._plan(spark, path)
        # 12 x 10-row files, target 24, small cut 12: compact to 5
        c = plan["compact_small_files"]
        assert (c["n_files"], c["n_rows"], c["predicted_files"]) == (12, 120, 5)
        # interleaved residues: every file's doc_id range spans the
        # domain, 11 of 12 overlap the running chain
        cl = plan["cluster"]
        assert (cl["col"], cl["n_files"], cl["overlap_files"]) == ("doc_id", 12, 11)
        assert set(plan) == {"compact_small_files", "cluster"}

        # a live equality delete surfaces as fold_deletes
        snap.delete_snapshot_keys(spark, path, "doc_id", [7, 19])
        plan = self._plan(spark, path)
        assert "fold_deletes" in plan
        assert plan["fold_deletes"]["n_files"] >= 1

        # ACT: compaction packs the small files and folds the deletes;
        # the replanned advisor drops all three recommendations and the
        # superseded originals surface as reclaimable
        snap.compact_small_files(
            spark, path, small_file_bytes=32 << 20, stats_cols=["doc_id"]
        )
        plan = self._plan(spark, path)
        assert "compact_small_files" not in plan  # single healthy file
        assert "cluster" not in plan
        assert "fold_deletes" not in plan
        assert plan["vacuum"]["n_files"] >= 12  # the originals
        assert set(plan) == {"vacuum"}

        # retention retires the old versions: the plan is EMPTY
        snap.vacuum_snapshots(spark, path, keep_last=1)
        assert self._plan(spark, path) == {}
        # and the data survived the whole loop minus the deleted keys
        got = sorted(
            r["doc_id"] for r in snap.read_snapshot(spark, path).collect()
        )
        assert got == [d for d in range(120) if d not in (7, 19)]

    def test_zorder_recommendation_act_then_replan(self, spark, tmp_path):
        """r10 verdict item 7: TWO overlap-dull stats columns collapse
        into ONE zorder recommendation (not per-column cluster rows);
        acting on it — rewrite_snapshot(zorder_by=[...]) — clears BOTH
        columns' overlap signals while both dimensions still prune
        strictly."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        # four tight 2D corner clusters, cluster id cycling every 8 ids
        # so each interleaved append (k % 8) holds ALL clusters — both
        # columns' per-file ranges span the domain
        base = spark.range(400).selectExpr(
            "id AS k",
            "(id % 10) + (CASE WHEN (id div 8) % 4 IN (2, 3) "
            "THEN 90 ELSE 0 END) AS x",
            "(id % 10) + (CASE WHEN (id div 8) % 4 IN (1, 3) "
            "THEN 90 ELSE 0 END) AS y",
        )
        for i in range(8):
            snap.commit_snapshot(
                spark,
                base.filter(F.col("k") % 8 == i).repartition(1),
                path,
                mode="overwrite" if i == 0 else "append",
                stats_cols=["x", "y"],
            )
        plan = self._plan(spark, path)
        z = plan["zorder"]
        assert z["col"] == "x,y"
        assert (z["n_files"], z["overlap_files"]) == (8, 14)  # 7 + 7
        assert "cluster" not in plan  # collapsed into the zorder row
        # ACT: the recommended multi-column rewrite
        snap.rewrite_snapshot(
            spark, path, zorder_by=["x", "y"], n_files=4,
            stats_cols=["x", "y"],
        )
        plan2 = self._plan(spark, path)
        assert "zorder" not in plan2 and "cluster" not in plan2
        # both dimensions prune strictly after the rewrite
        all_files = snap.snapshot_files(spark, path)
        for col in ("x", "y"):
            kept = snap.snapshot_files(
                spark, path, prune_range=(col, 0, 10)
            )
            assert 0 < len(kept) < len(all_files)
        # rows survived the rewrite
        assert snap.read_snapshot(spark, path).count() == 400


class TestCatalogStream:
    """Catalog-version stream source (round-8 verdict item 7): offsets
    are catalog versions, batches are per-table layer deltas,
    all-or-nothing per catalog version."""

    def _drain(self, spark, cat, ckpt, name):
        """One run of the stream against ``ckpt`` (foreachBatch is
        checkpoint-recoverable, memory sink is not); returns the doc_ids
        THIS run consumed."""
        from aie321_bigdata_movie_kpi_1m_spark.sources.pyds import (
            catalog_stream_schema,
            register_catalog_stream,
        )

        register_catalog_stream(spark)
        stream = (
            spark.readStream.format("catalog_stream")
            .schema(catalog_stream_schema(cat, "docs", "doc_id"))
            .option("path", cat)
            .option("table", "docs")
            .option("cols", "doc_id")
            .load()
        )
        got: list[int] = []
        q = (
            stream.writeStream.foreachBatch(
                lambda df, _eid: got.extend(
                    r["doc_id"] for r in df.collect()
                )
            )
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        return sorted(got)

    def test_restart_consumes_only_new_catalog_versions(
        self, spark, tmp_path
    ):
        import aie321_bigdata_movie_kpi_1m_spark.sources.table_catalog as tc

        cat = str(tmp_path / "cat")
        layer = str(tmp_path / "docs")
        ckpt = str(tmp_path / "ckpt")

        def docs(lo, hi):
            return spark.range(lo, hi).selectExpr("id AS doc_id")

        tc.multi_table_commit(
            spark, cat, [("docs", docs(0, 5), layer, {"mode": "overwrite"})]
        )
        tc.multi_table_commit(
            spark, cat, [("docs", docs(5, 10), layer, {"mode": "append"})]
        )
        assert self._drain(spark, cat, ckpt, "cat_tail_a") == list(range(10))
        # new transaction AFTER the checkpointed offset
        tc.multi_table_commit(
            spark, cat, [("docs", docs(10, 13), layer, {"mode": "append"})]
        )
        # restart from the SAME checkpoint, fresh memory table: only the
        # new catalog version's delta arrives
        assert self._drain(spark, cat, ckpt, "cat_tail_b") == [10, 11, 12]

    def test_staged_but_unswapped_commit_is_unreachable(
        self, spark, tmp_path
    ):
        """A transaction that staged its layer commit but crashed before
        the catalog swap (durable-but-unreferenced) must NOT be
        consumable — the all-or-nothing property."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        import aie321_bigdata_movie_kpi_1m_spark.sources.table_catalog as tc

        cat = str(tmp_path / "cat")
        layer = str(tmp_path / "docs")
        ckpt = str(tmp_path / "ckpt")
        tc.multi_table_commit(
            spark,
            cat,
            [("docs", spark.range(5).selectExpr("id AS doc_id"), layer, {})],
        )
        assert self._drain(spark, cat, ckpt, "cat_half_a") == list(range(5))
        # crashed transaction: layer commit lands, catalog swap never does
        staged_v = snap.commit_snapshot(
            spark,
            spark.range(5, 8).selectExpr("id AS doc_id"),
            layer,
            mode="append",
        )
        assert self._drain(spark, cat, ckpt, "cat_half_b") == []
        # the swap lands -> the whole transaction becomes visible at once
        tc.commit_catalog(
            spark, cat, {"docs": {"path": layer, "version": staged_v}}
        )
        assert self._drain(spark, cat, ckpt, "cat_half_c") == [5, 6, 7]

    def _drain_cdf(self, spark, cat, ckpt, name):
        """CDF-mode twin of ``_drain``: returns (change_type, doc_id,
        _commit_version) triples THIS run consumed."""
        from aie321_bigdata_movie_kpi_1m_spark.sources.pyds import (
            catalog_stream_schema,
            register_catalog_stream,
        )

        register_catalog_stream(spark)
        stream = (
            spark.readStream.format("catalog_stream")
            .schema(catalog_stream_schema(cat, "docs", "doc_id", mode="cdf"))
            .option("path", cat)
            .option("table", "docs")
            .option("cols", "doc_id")
            .option("mode", "cdf")
            .load()
        )
        got: list = []
        q = (
            stream.writeStream.foreachBatch(
                lambda df, _eid: got.extend(
                    (r["change_type"], r["doc_id"], r["_commit_version"])
                    for r in df.collect()
                )
            )
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        return sorted(got)

    def test_staged_but_unswapped_commit_invisible_to_cdf_tail(
        self, spark, tmp_path
    ):
        """The all-or-nothing property EXTENDED TO CDF BATCHES (r13
        verdict item #7): a transaction that staged its layer commit
        (here an equality-key DELETE, the hardest change source) but
        crashed before the catalog swap must contribute NO change rows
        to a mode=cdf catalog tail; when the swap lands, the whole
        transaction's changes arrive in one batch with change_type and
        _commit_version."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        import aie321_bigdata_movie_kpi_1m_spark.sources.table_catalog as tc

        cat = str(tmp_path / "cat")
        layer = str(tmp_path / "docs")
        ckpt = str(tmp_path / "ckpt")
        tc.multi_table_commit(
            spark,
            cat,
            [(
                "docs",
                spark.range(5).selectExpr("id AS doc_id"),
                layer,
                {"stats_cols": ["doc_id"], "change_feed": True},
            )],
        )
        assert self._drain_cdf(spark, cat, ckpt, "cdf_half_a") == [
            ("insert", i, 1) for i in range(5)
        ]
        # crashed transaction: the delete lands on the LAYER, the
        # catalog swap never does — zero change rows may surface
        staged_v = snap.delete_snapshot_keys(
            spark, layer, "doc_id", [1, 3]
        )["version"]
        assert self._drain_cdf(spark, cat, ckpt, "cdf_half_b") == []
        # the swap lands -> the delete's changes arrive at once
        tc.commit_catalog(
            spark, cat, {"docs": {"path": layer, "version": staged_v}}
        )
        assert self._drain_cdf(spark, cat, ckpt, "cdf_half_c") == [
            ("delete", 1, 2),
            ("delete", 3, 2),
        ]

    def test_repoint_and_rewind_raise(self, spark, tmp_path):
        import pytest

        import aie321_bigdata_movie_kpi_1m_spark.sources.table_catalog as tc
        from aie321_bigdata_movie_kpi_1m_spark.sources.pyds import (
            _CatalogStreamReader,
        )

        cat = str(tmp_path / "cat")
        la, lb = str(tmp_path / "a"), str(tmp_path / "b")
        df = spark.range(3).selectExpr("id AS doc_id")
        tc.multi_table_commit(spark, cat, [("docs", df, la, {})])
        tc.multi_table_commit(spark, cat, [("docs", df, lb, {})])  # repoint
        r = _CatalogStreamReader(
            {"path": cat, "table": "docs", "cols": "doc_id"}
        )
        with pytest.raises(ValueError, match="repointed"):
            r.partitions({"version": 0}, {"version": 2})
        # rewind: a later catalog version pins an OLDER layer version
        cat2 = str(tmp_path / "cat2")
        lc = str(tmp_path / "c")
        tc.multi_table_commit(spark, cat2, [("docs", df, lc, {})])
        tc.multi_table_commit(
            spark, cat2, [("docs", df, lc, {"mode": "append"})]
        )
        tc.commit_catalog(spark, cat2, {"docs": {"path": lc, "version": 1}})
        r2 = _CatalogStreamReader(
            {"path": cat2, "table": "docs", "cols": "doc_id"}
        )
        with pytest.raises(ValueError, match="backwards"):
            r2.partitions({"version": 0}, {"version": 3})

    def test_drop_then_readd_raises_never_pinned_start_is_fine(
        self, spark, tmp_path
    ):
        """ADVICE r9: a table dropped from the catalog and re-added at
        the SAME layer path after the consumed start offset must RAISE
        (falling back to layer v0 would replay rows consumed before the
        drop) — while a table that was simply never pinned before the
        start offset keeps legit initial-snapshot semantics."""
        import pytest

        import aie321_bigdata_movie_kpi_1m_spark.sources.table_catalog as tc
        from aie321_bigdata_movie_kpi_1m_spark.sources.pyds import (
            _CatalogStreamReader,
        )

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        cat = str(tmp_path / "cat")
        layer = str(tmp_path / "docs")
        other = str(tmp_path / "other")
        df = spark.range(3).selectExpr("id AS doc_id")
        snap.commit_snapshot(spark, df, layer)
        snap.commit_snapshot(spark, df, other)
        # v1: docs pinned; v2: docs DROPPED (another table keeps the
        # catalog alive); v3: docs re-added at the same layer path
        tc.commit_catalog(spark, cat, {"docs": {"path": layer, "version": 1}})
        tc.commit_catalog(spark, cat, {"aux": {"path": other, "version": 1}})
        tc.commit_catalog(
            spark,
            cat,
            {
                "aux": {"path": other, "version": 1},
                "docs": {"path": layer, "version": 1},
            },
        )
        r = _CatalogStreamReader(
            {"path": cat, "table": "docs", "cols": "doc_id"}
        )
        with pytest.raises(ValueError, match="dropped and re-added"):
            r.partitions({"version": 2}, {"version": 3})
        # never pinned before the start offset: the table is genuinely
        # new to the stream — initial snapshot, no raise
        r2 = _CatalogStreamReader(
            {"path": cat, "table": "aux", "cols": "doc_id"}
        )
        parts = r2.partitions({"version": 1}, {"version": 3})
        assert parts  # plans the aux initial snapshot without raising

    def test_vacuumed_history_blind_spot_refuses(self, spark, tmp_path):
        """ADVICE r10: when the catalog history BELOW the consumed
        offset was vacuumed, the reader cannot prove a no-pin-at-start
        table wasn't dropped and re-added pre-checkpoint — it must
        refuse (fresh-checkpoint contract) instead of silently
        replaying from layer v0 and duplicating rows."""
        import pytest

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        import aie321_bigdata_movie_kpi_1m_spark.sources.table_catalog as tc
        from aie321_bigdata_movie_kpi_1m_spark.sources.pyds import (
            _CatalogStreamReader,
        )

        cat = str(tmp_path / "cat")
        layer = str(tmp_path / "docs")
        other = str(tmp_path / "other")
        df = spark.range(3).selectExpr("id AS doc_id")
        snap.commit_snapshot(spark, df, layer)
        snap.commit_snapshot(spark, df, other)
        # v1: docs pinned; v2: docs dropped; v3: docs re-added — then
        # retention vacuums v1, erasing the evidence of the early pin
        tc.commit_catalog(spark, cat, {"docs": {"path": layer, "version": 1}})
        tc.commit_catalog(spark, cat, {"aux": {"path": other, "version": 1}})
        tc.commit_catalog(
            spark,
            cat,
            {
                "aux": {"path": other, "version": 1},
                "docs": {"path": layer, "version": 1},
            },
        )
        tc.vacuum_catalog(spark, cat, keep_last=2)  # v1 gone
        r = _CatalogStreamReader(
            {"path": cat, "table": "docs", "cols": "doc_id"}
        )
        with pytest.raises(ValueError, match="vacuumed"):
            r.partitions({"version": 2}, {"version": 3})


class TestCdfStreamCommitVersion:
    """The cdf stream's _commit_version column (round-9): every change
    row names the manifest version that produced it, so a consumer
    applying a micro-batch that spans several source commits can replay
    them in commit order — an insert and a later delete of the same key
    must not net out wrong."""

    def test_commit_versions_per_change(self, spark, tmp_path):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        from aie321_bigdata_movie_kpi_1m_spark.sources.pyds import (
            register_snapshot_stream,
            snapshot_cdf_stream_schema,
        )

        register_snapshot_stream(spark)
        path, ckpt = str(tmp_path / "layer"), str(tmp_path / "ckpt")
        # v1 bootstrap, v2 append, v3 equality-delete of a v1 key
        snap.commit_snapshot(
            spark,
            spark.range(3).selectExpr("id AS k"),
            path,
            stats_cols=["k"],
            change_feed=True,
        )
        snap.commit_snapshot(
            spark,
            spark.createDataFrame([(10,)], "k long"),
            path,
            mode="append",
        )
        snap.delete_snapshot_keys(spark, path, "k", [1])
        got: list = []
        stream = (
            spark.readStream.format("snapshot_stream")
            .schema(snapshot_cdf_stream_schema(path, "k"))
            .option("path", path)
            .option("cols", "k")
            .option("mode", "cdf")
            .load()
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda df, _bid: got.extend(
                    (r["change_type"], r["k"], r["_commit_version"])
                    for r in df.collect()
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert sorted(got) == [
            ("delete", 1, 3),
            ("insert", 0, 1),
            ("insert", 1, 1),
            ("insert", 2, 1),
            ("insert", 10, 2),
        ]
        # the ordering property the column exists for: k=1's insert
        # carries a LOWER version than its delete, even though both
        # arrived in ONE micro-batch
        ins_v = next(v for t, k, v in got if t == "insert" and k == 1)
        del_v = next(v for t, k, v in got if t == "delete" and k == 1)
        assert ins_v < del_v


def test_maintenance_plan_ignores_hidden_partition_stats(spark, tmp_path):
    """A bucket transform's per-file hash range legitimately spans the
    domain — the advisor must not recommend a clustering rewrite on the
    derived _pt_* stat (r9 self-review)."""
    import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

    path = str(tmp_path / "layer")
    for i in range(3):
        snap.commit_snapshot(
            spark,
            spark.range(i * 100, (i + 1) * 100).selectExpr(
                "id AS k", "CAST(id AS STRING) AS s"
            ).repartition(1),
            path,
            mode="overwrite" if i == 0 else "append",
            partition_spec=[{"transform": "bucket", "n": 8, "source": "s"}],
        )
    rows = snap.snapshot_maintenance_plan(
        spark, path, target_rows_per_file=100000
    ).collect()
    assert all(
        not (r["action"] == "cluster" and str(r["col"]).startswith("_pt_"))
        for r in rows
    )


def test_catalog_stream_cdf_mode(spark, tmp_path):
    """catalog_stream with mode=cdf: the change feed of one table,
    advanced by CATALOG versions — a delete transaction's changes
    arrive only when its catalog swap lands, with change_type and
    _commit_version columns (the layer-stream cdf shape)."""
    import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
    import aie321_bigdata_movie_kpi_1m_spark.sources.table_catalog as tc
    from aie321_bigdata_movie_kpi_1m_spark.sources.pyds import (
        catalog_stream_schema,
        register_catalog_stream,
    )

    register_catalog_stream(spark)
    cat = str(tmp_path / "cat")
    layer = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")
    tc.multi_table_commit(
        spark,
        cat,
        [(
            "docs",
            spark.range(5).selectExpr("id AS doc_id"),
            layer,
            {"stats_cols": ["doc_id"], "change_feed": True},
        )],
    )
    # transaction 2: equality-delete two keys, then pin the new layer
    # version in the catalog
    v = snap.delete_snapshot_keys(spark, layer, "doc_id", [1, 3])["version"]
    tc.commit_catalog(spark, cat, {"docs": {"path": layer, "version": v}})

    got: list = []
    stream = (
        spark.readStream.format("catalog_stream")
        .schema(catalog_stream_schema(cat, "docs", "doc_id", mode="cdf"))
        .option("path", cat)
        .option("table", "docs")
        .option("cols", "doc_id")
        .option("mode", "cdf")
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, _b: got.extend(
                (r["change_type"], r["doc_id"], r["_commit_version"])
                for r in df.collect()
            )
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(got) == [
        ("delete", 1, 2),
        ("delete", 3, 2),
        ("insert", 0, 1),
        ("insert", 1, 1),
        ("insert", 2, 1),
        ("insert", 3, 1),
        ("insert", 4, 1),
    ]


class TestCompactBloomRegeneration:
    """r9 verdict item 1: the steady-state maintenance job must not
    strip the point-lookup index off exactly the files it packs —
    compact_small_files now recomputes Bloom bit sets for the packed
    outputs under the manifest's pinned (m, k), and fold_deletes=True
    forces delete-touched files into the rewrite regardless of size."""

    def test_compact_regenerates_blooms_and_segment_unions(
        self, spark, tmp_path
    ):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        snap.commit_snapshot(
            spark,
            spark.range(0, 400)
            .selectExpr("id AS k", "id * 3 AS v")
            .repartitionByRange(8, "k"),
            path,
            stats_cols=["k"],
            bloom_col="k",
        )
        # pack the 8 tiny files into several outputs (tiny target keeps
        # >1 so probe sharpness is still measurable)
        res = snap.compact_small_files(
            spark, path, target_file_bytes=4096, stats_cols=["k"]
        )
        assert res["files_rewritten"] == 8
        m = snap._manifest(spark, path, res["version"])
        bases = {f.rsplit("/", 1)[-1] for f in m["files"]}
        assert len(bases) >= 2
        # EVERY packed file carries a non-empty bloom entry (pre-r10:
        # written as {} whenever compaction ran)
        assert set(m["blooms"]) == bases
        assert all(m["blooms"][b] for b in bases)
        # (m, k) inherited from the layer, not re-defaulted
        raw = snap._manifest_raw(spark, path, res["version"])
        assert raw["bloom_m"] and raw["bloom_k"]
        # segment bloom unions present -> whole-segment skipping lives
        assert all(e.get("bloom_union") for e in raw["segments"])
        # point probes: correct for present keys, sharp for absent ones
        for probe in (0, 123, 399):
            kept = snap.snapshot_files(spark, path, prune_point=("k", probe))
            assert len(kept) < len(bases) or len(bases) == 1
            got = (
                snap.read_snapshot(spark, path, prune_point=("k", probe))
                .where(F.col("k") == probe)
                .collect()
            )
            assert [(r["k"], r["v"]) for r in got] == [(probe, probe * 3)]
        assert (
            len(snap.snapshot_files(spark, path, prune_point=("k", 10**9)))
            <= 1
        )

    def test_fold_deletes_rewrites_big_touched_files(self, spark, tmp_path):
        """ADVICE r9: a fold_deletes-only plan must actually clear the
        merge-on-read entries — delete-touched files above the byte cut
        rewrite anyway; without the flag the size sweep no-ops."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        snap.commit_snapshot(
            spark,
            spark.range(0, 200)
            .selectExpr("id AS k", "id * 2 AS v")
            .repartitionByRange(2, "k"),
            path,
            stats_cols=["k"],
            bloom_col="k",
        )
        snap.delete_snapshot_keys(spark, path, "k", [5, 7])
        assert snap._manifest_raw(spark, path, 2).get("delete_files")
        # small_file_bytes=1: nothing is "small", plain compact no-ops
        r0 = snap.compact_small_files(
            spark, path, small_file_bytes=1, stats_cols=["k"]
        )
        assert r0["files_rewritten"] == 0
        # fold_deletes forces the touched file(s) into the rewrite
        r1 = snap.compact_small_files(
            spark,
            path,
            small_file_bytes=1,
            stats_cols=["k"],
            fold_deletes=True,
        )
        assert r1["files_rewritten"] >= 1
        m2 = snap._manifest_raw(spark, path, r1["version"])
        assert not m2.get("delete_files")  # merge-on-read tax cleared
        # metadata-only row count is exact again, data correct
        assert snap.snapshot_row_count(spark, path) == 198
        got = sorted(
            r["k"] for r in snap.read_snapshot(spark, path).collect()
        )
        assert got == [k for k in range(200) if k not in (5, 7)]
        # untouched file carried verbatim; packed file has fresh blooms
        assert set(m2.get("delete_files") or []) == set()
        mm = snap._manifest(spark, path, r1["version"])
        assert set(mm["blooms"]) == {
            f.rsplit("/", 1)[-1] for f in mm["files"]
        }


class TestCatalogMaintenanceSweep:
    """r9 verdict item 7: catalog_maintenance_plan plans EVERY table a
    catalog version pins; the act-then-replan loop ends all-clear with
    every surviving pinned catalog version still readable under the
    per-path min_pinned retention floors."""

    @pytest.mark.slow
    def test_sweep_act_replan_and_pinned_reads_survive(
        self, spark, tmp_path
    ):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap
        import aie321_bigdata_movie_kpi_1m_spark.sources.table_catalog as tc

        cat = str(tmp_path / "cat")
        t1, t2, t3 = (str(tmp_path / n) for n in ("t1", "t2", "t3"))
        # t1/t2: interleaved tiny appends (12 and 8); t3: one clean file
        for path, buckets, n in ((t1, 12, 120), (t2, 8, 80)):
            df = spark.range(n).selectExpr("id AS k")
            for i in range(buckets):
                snap.commit_snapshot(
                    spark,
                    df.filter(F.col("k") % buckets == i).repartition(1),
                    path,
                    mode="overwrite" if i == 0 else "append",
                    stats_cols=["k"],
                )
        snap.commit_snapshot(
            spark,
            spark.range(50).selectExpr("id AS k").repartition(1),
            t3,
            stats_cols=["k"],
        )
        # catalog v1 pins t1 mid-history (an old consistent read point),
        # v2 pins the heads — the floors must protect v1's pin
        tc.commit_catalog(
            spark,
            cat,
            {
                "t1": {"path": t1, "version": 6},
                "t2": {"path": t2, "version": 8},
                "t3": {"path": t3, "version": 1},
            },
        )
        tc.commit_catalog(
            spark,
            cat,
            {
                "t1": {"path": t1, "version": 12},
                "t2": {"path": t2, "version": 8},
                "t3": {"path": t3, "version": 1},
            },
        )
        plan = tc.catalog_maintenance_plan(
            spark, cat, target_rows_per_file=24
        ).collect()
        by_table = {}
        for r in plan:
            by_table.setdefault(r["table_name"], set()).add(r["action"])
        assert "compact_small_files" in by_table["t1"]
        assert "compact_small_files" in by_table["t2"]
        assert "t3" not in by_table  # clean layer contributes no rows

        # ACT on every advised table, then REPLAN: only vacuum remains
        for name in sorted(by_table):
            path = tc.catalog_tables(spark, cat)[name]["path"]
            snap.compact_small_files(
                spark, path, small_file_bytes=32 << 20, stats_cols=["k"]
            )
        replan = tc.catalog_maintenance_plan(
            spark, cat, target_rows_per_file=24
        ).collect()
        assert {r["action"] for r in replan} == {"vacuum"}

        # retention under the floors: catalog keeps both versions, so
        # min_pinned for t1 is layer v6 — size t1's own vacuum from it
        floors = tc.vacuum_catalog(spark, cat, keep_last=2)["min_pinned"]
        assert floors[t1]["version"] == 6
        head_t1 = snap.snapshot_versions(spark, t1)[-1]
        snap.vacuum_snapshots(
            spark, t1, keep_last=head_t1 - floors[t1]["version"] + 1
        )
        # EVERY surviving pinned catalog version still reads, exactly
        for cv in tc.catalog_versions(spark, cat):
            got1 = sorted(
                r["k"]
                for r in tc.read_catalog_table(
                    spark, cat, "t1", catalog_version=cv
                ).collect()
            )
            expect = (
                [k for k in range(120) if k % 12 < 6]  # first 6 appends
                if cv == 1
                else list(range(120))
            )
            assert got1 == expect
            assert (
                tc.read_catalog_table(
                    spark, cat, "t3", catalog_version=cv
                ).count()
                == 50
            )
        # the replanned sweep after layer vacuum: t1 all-clear
        final = {
            (r["table_name"], r["action"])
            for r in tc.catalog_maintenance_plan(
                spark, cat, target_rows_per_file=24
            ).collect()
        }
        assert ("t1", "compact_small_files") not in final
        assert ("t1", "fold_deletes") not in final


class TestBloomSizing:
    """bloom_bits: layer-pinned Bloom size honoring the file-size
    contract (an under-sized bloom saturates and admits every file)."""

    def test_helper_scales_and_floors(self):
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            bloom_bits_for_rows,
        )

        assert bloom_bits_for_rows(100) == 8192  # floored at default
        assert bloom_bits_for_rows(1000) == 16384
        assert bloom_bits_for_rows(100_000) == 2097152  # 2^21 >= 1.2M

    def test_pinned_at_creation_inherited_conflict_raises(
        self, spark, tmp_path
    ):
        import json

        import pytest

        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            _manifest_raw,
            commit_snapshot,
            snapshot_files,
        )

        path = str(tmp_path / "layer")
        df = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
        commit_snapshot(
            spark, df, path, stats_cols=["k"], bloom_col="k",
            bloom_bits=32768,
        )
        m1 = _manifest_raw(spark, path, 1)
        assert int(m1["bloom_m"]) == 32768
        # append without bloom_bits inherits the pinned size
        v2 = commit_snapshot(
            spark,
            spark.range(100, 200).selectExpr("id AS k", "id * 2 AS v"),
            path,
            mode="append",
            stats_cols=["k"],
            bloom_col="k",
        )
        assert int(_manifest_raw(spark, path, v2)["bloom_m"]) == 32768
        # a conflicting append is a layer-property violation, not a
        # silent mixed-parameter bit set
        with pytest.raises(ValueError, match="pinned bloom_m"):
            commit_snapshot(
                spark,
                spark.range(200, 210).selectExpr("id AS k", "id * 2 AS v"),
                path,
                mode="append",
                bloom_col="k",
                bloom_bits=8192,
            )
        # the sized bloom still prunes point probes correctly
        n_all = len(snapshot_files(spark, path, v2))
        n_probe = len(
            snapshot_files(spark, path, v2, prune_point=("k", 150))
        )
        assert 0 < n_probe < n_all


class TestR16Hardening:
    """Round-16 pins: segment-cache immutability (the MappingProxyType
    view is shallow — VERDICT/ADVICE r15), file:-URI authority handling,
    and FileSystem-cache keying."""

    def test_segment_cache_payloads_never_mutated(self, spark, tmp_path):
        """Consumers of ``_read_segment`` receive the process-wide cached
        payload WITHOUT a defensive copy; nested lists (bloom bit sets)
        and dicts (stats) stay mutable through the shallow proxy, so an
        in-place mutation by any consumer would silently corrupt every
        later read.  Drive the consumer paths that merge segment maps
        (manifest materialization, point-pruned reads, compaction), then
        deep-compare every cached segment payload against a fresh parse
        of its file: mutation is PROVEN ABSENT."""
        import copy
        import json

        from aie321_bigdata_movie_kpi_1m_spark.sources import (
            snapshots as snap,
        )

        path = str(tmp_path / "layer")
        df = spark.range(0, 600).selectExpr("id AS k", "id * 3 AS v")
        snap.commit_snapshot(
            spark,
            df.repartition(6),
            path,
            stats_cols=["k", "v"],
            bloom_col="k",
        )
        snap.commit_snapshot(
            spark,
            spark.range(600, 900).selectExpr("id AS k", "id * 3 AS v"),
            path,
            mode="append",
            stats_cols=["k", "v"],
            bloom_col="k",
        )
        # exercise every merge-site consumer of segment payloads:
        # manifest materialization (.update()s FROM the maps), pruned
        # point reads, and a compaction that carries segment metadata
        # into new manifest/segment files
        snap._manifest(spark, path, snap.snapshot_versions(spark, path)[-1])
        snap.snapshot_files(spark, path, prune_point=("k", 7))
        snap.read_snapshot(spark, path, prune_point=("k", [5, 123])).count()
        snap.compact_small_files(
            spark, path, small_file_bytes=64 << 20, stats_cols=["k", "v"]
        )
        seen = 0
        for fpath, (sig, payload) in list(snap._JSON_FILE_CACHE.items()):
            if "/segments/" not in fpath and "segment" not in fpath:
                continue
            local = fpath.removeprefix("file:")
            # the cache is process-wide: entries from EARLIER tests may
            # point into tmp dirs pytest has since deleted — only the
            # still-on-disk payloads can be compared against a re-parse
            # (this test's own layer, created above, always qualifies)
            if not os.path.exists(local):
                continue
            with open(local, encoding="utf-8") as fh:
                fresh = json.load(fh)
            assert payload == fresh, f"cached segment mutated: {fpath}"
            # the cached object must also survive a deepcopy round-trip
            # (no proxy poisoning of nested structures)
            assert copy.deepcopy(payload) == fresh
            seen += 1
        assert seen >= 1, "no segment payloads were cached - fixture bug"

    def test_local_path_authority_handling(self, spark):
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
            _local_path,
        )

        assert _local_path(spark, "file:/a/b") == "/a/b"
        assert _local_path(spark, "file:///a/b") == "/a/b"
        assert _local_path(spark, "file://localhost/a/b") == "/a/b"
        # remote authority: NOT provably local -> Hadoop path
        assert _local_path(spark, "file://nas01/a/b") is None
        assert _local_path(spark, "hdfs://nn/a") is None

    def test_fs_cache_keyed_by_scheme_and_authority(self, spark, tmp_path):
        from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import _fs

        _fs(spark, str(tmp_path))
        _fs(spark, f"file://{tmp_path}")
        cache = spark.sparkContext._aie321_fs_cache
        # every key carries (scheme, authority) so two authorities on
        # one scheme can never share a handle (Hadoop "Wrong FS")
        assert all(
            isinstance(k, tuple) and len(k) == 2 for k in cache
        ), cache.keys()


def _reference_blooms(spark, files, col, m, k):
    """Per-file Bloom bits built with the explode + ``collect_set`` shape
    the commit path used before the bits rode the stats scan."""
    probe = F.col(col).cast("string")
    rows = (
        spark.read.parquet(*files)
        .filter(F.col(col).isNotNull())
        .select(
            F.input_file_name().alias("__f"),
            F.explode(
                F.array(
                    *[F.pmod(F.xxhash64(probe, F.lit(i)), F.lit(m)) for i in range(k)]
                )
            ).alias("__bit"),
        )
        .groupBy("__f")
        .agg(F.collect_set("__bit").alias("__bits"))
        .collect()
    )
    out = {f.rsplit("/", 1)[-1]: [] for f in files}
    for r in rows:
        out[r["__f"].rsplit("/", 1)[-1]] = sorted(int(b) for b in r["__bits"])
    return out


class TestOneScanDelta:
    """Commit, merge and compaction describe a staged delta in one scan:
    stats, counts, sketches, Bloom bits and CHECK totals together."""

    @pytest.mark.parametrize("key_type", ["bigint", "string"])
    def test_bloom_bits_match_reference(self, spark, tmp_path, key_type):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        schema = f"k {key_type}, v string"
        cast = str if key_type == "string" else int
        rows = [(cast(i) if i % 5 else None, f"v{i}") for i in range(60)]
        snap.commit_snapshot(
            spark, spark.createDataFrame(rows, schema).repartition(3), path,
            stats_cols=["k"], bloom_col="k", bloom_bits=256,
        )
        # an all-NULL-key file, then a zero-row file
        snap.commit_snapshot(
            spark, spark.createDataFrame([(None, "n")] * 4, schema).coalesce(1),
            path, mode="append",
        )
        snap.commit_snapshot(
            spark, spark.createDataFrame([], schema), path, mode="append"
        )
        snap.merge_snapshot(
            spark,
            spark.createDataFrame([(cast(7), "upd"), (cast(900), "ins")], schema),
            path, "k", stats_cols=["k"],
        )
        res = snap.compact_small_files(spark, path, stats_cols=["k"])
        assert res["version"] == 5
        empty = []
        for v in range(1, 6):
            m = snap._manifest(spark, path, v)
            before = set(snap._manifest(spark, path, v - 1)["files"]) if v > 1 else set()
            new = [f.rsplit("/", 1)[-1] for f in m["files"] if f not in before]
            ref = _reference_blooms(
                spark, [f for f in m["files"] if f not in before], "k",
                m["bloom_m"], m["bloom_k"],
            )
            assert new and {b: m["blooms"][b] for b in new} == ref, v
            empty += [(v, m["counts"][b]) for b in new if m["blooms"][b] == []]
        # the all-NULL file (4 rows) and the zero-row file set no bits
        assert empty == [(2, 4), (3, 0)]

    def test_append_inherits_the_layers_bloom_column(self, spark, tmp_path):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        schema = "k long, v string"
        snap.commit_snapshot(
            spark,
            spark.createDataFrame([(i, f"v{i}") for i in range(70)], schema)
            .repartitionByRange(7, "k"),
            path, bloom_col="k",
        )
        # relabelling the layer's Bloom column would leave old files with
        # bits for another column, so a pruned probe skips real rows
        with pytest.raises(ValueError, match="bloom_col"):
            snap.commit_snapshot(
                spark, spark.createDataFrame([(100, "v7")], schema), path,
                mode="append", bloom_col="v",
            )
        with pytest.raises(ValueError, match="not a delta column"):
            snap.commit_snapshot(
                spark, spark.createDataFrame([(100, "v7")], schema), path,
                mode="append", bloom_col="nope",
            )
        assert snap.snapshot_versions(spark, path) == [1]
        # an append that omits bloom_col still builds the layer's bits
        snap.commit_snapshot(
            spark, spark.createDataFrame([(500, "x")], schema), path,
            mode="append",
        )
        m = snap._manifest(spark, path, 2)
        assert m["bloom_col"] == "k"
        assert set(m["blooms"]) == {f.rsplit("/", 1)[-1] for f in m["files"]}
        kept = snap.snapshot_files(spark, path, prune_point=("k", 500))
        assert len(kept) < len(m["files"])
        got = snap.read_snapshot(spark, path, prune_point=("k", 500)).collect()
        assert [(r["k"], r["v"]) for r in got] == [(500, "x")]

    def test_append_commit_runs_at_most_four_jobs(self, spark, tmp_path):
        import uuid

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        schema = "k long, v string"
        kwargs = dict(stats_cols=["k"], bloom_col="k",
                      checks={"k_nonneg": "k >= 0"})
        snap.commit_snapshot(
            spark, spark.createDataFrame([(i, "a") for i in range(50)], schema),
            path, **kwargs,
        )
        delta = spark.createDataFrame([(i, "b") for i in range(50, 90)], schema)
        v, sites = _group_jobs(
            spark, f"one-scan-append-{uuid.uuid4().hex[:8]}",
            lambda: snap.commit_snapshot(spark, delta, path, mode="append",
                                         **kwargs),
        )
        assert v == 2
        # the write, then one grouped scan (map + result stage jobs)
        assert len(sites) <= 4, sites
        assert _py4j_parquet_jobs(sites) == 1, sites  # the write

    def test_merge_insert_and_compact_run_no_post_write_inference(
        self, spark, tmp_path
    ):
        import uuid

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        schema = "k long, v string"
        snap.commit_snapshot(
            spark,
            spark.createDataFrame([(i, "a") for i in range(40)], schema)
            .repartitionByRange(4, "k"),
            path, stats_cols=["k"], bloom_col="k",
            partition_spec=[{"transform": "bucket", "n": 4, "source": "k"}],
        )
        delta = spark.createDataFrame([(1000, "new")], schema)
        res, sites = _group_jobs(
            spark, f"merge-insert-{uuid.uuid4().hex[:8]}",
            lambda: snap.merge_snapshot(spark, delta, path, "k",
                                        stats_cols=["k"]),
        )
        assert res["files_rewritten"] == 0
        assert _py4j_parquet_jobs(sites) == 1, sites  # the write
        n_files = len(snap.snapshot_files(spark, path))
        res, sites = _group_jobs(
            spark, f"compact-{uuid.uuid4().hex[:8]}",
            lambda: snap.compact_small_files(spark, path, stats_cols=["k"]),
        )
        assert res["files_rewritten"] == n_files
        # the write only: the small files read under the recorded schema
        # and the packed output is described from its footer
        assert _py4j_parquet_jobs(sites) == 1, sites
        m = snap._manifest(spark, path, res["version"])
        assert all(m["blooms"][b] for b in m["blooms"])
        assert all("_pt_bucket_4_k" in s for s in m["stats"].values())
        # a merge that rewrites a file and a predicate delete read their
        # files under the recorded schema: no inference job.  The merge's
        # write runs as adaptive query stages (the anti-join), so none of
        # its jobs starts from the py4j entry; the delete's write does
        delta = spark.createDataFrame([(3, "upd")], schema)
        res, sites = _group_jobs(
            spark, f"merge-touch-{uuid.uuid4().hex[:8]}",
            lambda: snap.merge_snapshot(spark, delta, path, "k",
                                        stats_cols=["k"]),
        )
        assert res["files_rewritten"] == 1
        assert _py4j_parquet_jobs(sites) == 0, sites
        res, sites = _group_jobs(
            spark, f"delete-{uuid.uuid4().hex[:8]}",
            lambda: snap.delete_snapshot(spark, path, "k = 5"),
        )
        assert res["rows_deleted"] == 1
        assert _py4j_parquet_jobs(sites) == 1, sites  # the write

    def test_rejected_merge_leaves_no_change_files(self, spark, tmp_path):
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        schema = "k long, n long"
        snap.commit_snapshot(
            spark, spark.createDataFrame([(1, 1), (2, 2)], schema), path,
            stats_cols=["k"], checks={"n_nonneg": "n >= 0"}, change_feed=True,
        )
        with pytest.raises(ValueError, match="n_nonneg"):
            snap.merge_snapshot(
                spark, spark.createDataFrame([(2, -1), (3, 3)], schema), path,
                "k",
            )
        assert snap.snapshot_versions(spark, path) == [1]
        assert not os.path.exists(os.path.join(path, "_changes"))
        assert len(os.listdir(os.path.join(path, "data"))) == 1

    def test_change_file_read_runs_no_inference_job(self, spark, tmp_path):
        import uuid

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path / "layer")
        schema = "k long, v string"
        snap.commit_snapshot(
            spark, spark.createDataFrame([(1, "a"), (2, "b")], schema), path,
            stats_cols=["k"], change_feed=True,
        )
        snap.merge_snapshot(
            spark, spark.createDataFrame([(2, "B")], schema), path, "k",
            stats_cols=["k"],
        )
        feed, sites = _group_jobs(
            spark, f"change-read-{uuid.uuid4().hex[:8]}",
            lambda: snap.snapshot_changes(spark, path, 1, 2),
        )
        assert _py4j_parquet_jobs(sites) == 0, sites
        assert sorted((r["change_type"], r["k"], r["v"]) for r in feed.collect()) == [
            ("delete", 2, "b"),
            ("insert", 2, "B"),
        ]


#: every table property a manifest records (the commit that owns one
#: sets it; every other commit carries it) — spelled out here rather
#: than imported, so a key dropped from the writer's list fails the test
_TABLE_PROPERTIES = (
    "bloom_col", "bloom_m", "bloom_k", "schema", "checks", "stat_doms",
    "cdf", "partition_spec", "partition_specs_all", "txn",
)


class TestManifestWriter:
    @pytest.fixture(scope="class")
    def prop_layer(self, spark, tmp_path_factory):
        """v1 sets every table property; v2 appends under a newer txn, so
        the head's txn map differs from v1's."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path = str(tmp_path_factory.mktemp("props") / "layer")
        rows = lambda lo, hi: spark.range(lo, hi).selectExpr(  # noqa: E731
            "id AS k", "CAST(id AS STRING) AS v"
        )
        snap.commit_snapshot(
            spark, rows(0, 20).repartition(2), path, stats_cols=["k"],
            bloom_col="k", bloom_bits=16384, checks={"k_nonneg": "k >= 0"},
            change_feed=True,
            partition_spec=[{"transform": "bucket", "n": 2, "source": "k"}],
            txn=("app", 1),
        )
        snap.commit_snapshot(
            spark, rows(20, 25).coalesce(1), path, mode="append",
            stats_cols=["k"], txn=("app", 2),
        )
        return path, rows

    #: the properties each mutator sets itself; it carries the rest
    OWNS = {
        "commit": {"schema", "stat_doms"},
        "delete": set(),
        "delete_keys": set(),
        "merge": {"schema", "stat_doms"},
        "compact": {"stat_doms"},
        "restore": set(),
        "clone": set(),
    }

    @pytest.mark.parametrize("mutator", list(OWNS))
    def test_mutators_carry_every_table_property(
        self, spark, tmp_path, prop_layer, mutator
    ):
        """Each of the seven manifest writers keeps every head property
        it does not own; restore takes the restored version's properties
        but the current head's txn map, and a clone starts with none."""
        import shutil

        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        src, rows = prop_layer
        # a private copy per mutator: manifests name the source layer's
        # files by absolute path, so the copy shares them read-only
        path = str(tmp_path / "layer")
        shutil.copytree(src, path)
        head = snap._manifest_raw(spark, path, 2)
        assert all(
            head[k] not in (None, {}, []) for k in _TABLE_PROPERTIES
        ), head
        target = path
        if mutator == "commit":
            snap.commit_snapshot(
                spark, rows(30, 32), path, mode="append", stats_cols=["k"]
            )
        elif mutator == "delete":
            snap.delete_snapshot(spark, path, "k = 3")
        elif mutator == "delete_keys":
            snap.delete_snapshot_keys(spark, path, "k", [4])
        elif mutator == "merge":
            snap.merge_snapshot(
                spark, rows(5, 7), path, "k", stats_cols=["k"]
            )
        elif mutator == "compact":
            snap.compact_small_files(spark, path, stats_cols=["k"])
        elif mutator == "restore":
            snap.restore_snapshot(spark, path, 1)
        else:
            target = str(tmp_path / "clone")
            snap.clone_snapshot(spark, path, target)
        new = snap._manifest_raw(
            spark, target, snap.snapshot_versions(spark, target)[-1]
        )
        assert new["version"] == (1 if mutator == "clone" else 3)
        expect = (
            snap._manifest_raw(spark, path, 1) if mutator == "restore" else head
        )
        for k in _TABLE_PROPERTIES:
            if k in self.OWNS[mutator]:
                assert new[k], (mutator, k)
            elif k == "txn" and mutator == "clone":
                assert new[k] == {}
            elif k == "txn":
                assert new[k] == head[k], (mutator, k)
            else:
                assert new[k] == expect[k], (mutator, k)
        if mutator == "restore":
            assert head["txn"] != expect["txn"]

    @pytest.mark.parametrize(
        "reader",
        [
            "snapshot_files",
            "read_snapshot",
            "snapshot_row_count",
            "snapshot_table_bytes",
            "snapshot_col_stats",
            "snapshot_minmax",
        ],
    )
    def test_readers_reject_an_uncommitted_version(
        self, spark, prop_layer, reader
    ):
        """Every public reader taking ``version=`` resolves it the same
        way: a version the layer never committed raises
        ``FileNotFoundError`` naming the committed versions."""
        import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

        path, _ = prop_layer
        extra = {"col": "k"} if reader == "snapshot_minmax" else {}
        with pytest.raises(FileNotFoundError, match=r"version 9 not in \[1, 2\]"):
            getattr(snap, reader)(spark, path, version=9, **extra)
