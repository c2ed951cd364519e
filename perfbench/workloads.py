"""The three benchmark workloads.

Each is a closed loop with one client: the next op starts when the
previous one has returned.  ``setup`` generates the seeded input, computes
the expected answers and runs a fixed, untimed warm-up; ``cycle`` runs one
unit of the workload's fixed op mix through ``Ctx.op``, which times each op
and checks its answer outside the timed part.
"""

from __future__ import annotations

import os
import statistics
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from aie321_bigdata_movie_kpi_1m_spark.operators import kpi
from aie321_bigdata_movie_kpi_1m_spark.plans import pipeline
from aie321_bigdata_movie_kpi_1m_spark.schemas import MOVIES_RAW_SCHEMA
from aie321_bigdata_movie_kpi_1m_spark.sources import readers, sinks, snapshots

import gen
from oracle import Oracle, same_rows

#: raw CSV rows for both kpi workloads
RAW_ROWS = 50_000
#: the paper's publish.py row cap on each exported table
EXPORT_CAP = 50_000
LAYERS = ("movie_facts", "movie_genre_fact", "genre_average_revenue")

QUERY_KINDS = ["bq1_top_genres", "bq2_budget_revenue", "bq3_films_per_year",
               "bq4_country_popularity", "bq5_runtime_rating",
               "year_top_revenue"]

#: snapshot workload shape: base rows (in BASE_FILES id-clustered files),
#: rows per append batch, lookups after each commit, the share of them
#: for absent ids, and a compaction after every COMPACT_EVERY commits
BASE_ROWS = 100_000
BASE_FILES = 4
BATCH_ROWS = 5_000
LOOKUPS_PER_COMMIT = 5
ABSENT_SHARE = 0.3
COMPACT_EVERY = 3
SMALL_FILE_BYTES = 2 * 1024 * 1024
TARGET_FILE_BYTES = 16 * 1024 * 1024
KEY = "movie_fact_id"


def median_or_zero(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def tree_bytes(path: str, suffix: str = "") -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in files if f.endswith(suffix))
    return total


def trace_targets() -> list[tuple]:
    """(module, attribute, span name) for every engine call a traced run
    wraps; names imported into ``plans.pipeline`` are wrapped there too."""
    return [
        (readers, "read_csv", "readers.read_csv"),
        (readers, "read_parquet", "readers.read_parquet"),
        (pipeline, "read_parquet", "readers.read_parquet"),
        (sinks, "write_parquet", "sinks.write_parquet"),
        (pipeline, "write_parquet", "sinks.write_parquet"),
        (sinks, "bounded_export", "sinks.bounded_export"),
        (kpi, "build_movie_facts", "kpi.plan"),
        (kpi, "build_movie_genre_fact", "kpi.plan"),
        (kpi, "build_genre_summary", "kpi.plan"),
        (pipeline, "run_movie_pipeline", "pipeline"),
        (snapshots, "commit_snapshot", "snapshots.commit"),
        (snapshots, "read_snapshot", "snapshots.read_snapshot"),
        (snapshots, "snapshot_files", "snapshots.snapshot_files"),
        (snapshots, "compact_small_files", "snapshots.compact"),
    ]


class RawInput:
    """The generated raw CSV plus its DuckDB oracle."""

    def __init__(self, ctx):
        self.csv = os.path.join(ctx.work, "input", "movies_raw.csv")
        os.makedirs(os.path.dirname(self.csv), exist_ok=True)
        self.csv_bytes = gen.write_raw_csv(gen.raw_movies(ctx.seed, RAW_ROWS),
                                           self.csv)
        self.oracle = Oracle(self.csv, ctx.cores)
        self.summary = self.oracle.summary()
        self.facts_rows, self.genre_fact_rows = self.oracle.layer_counts()

    def publish(self, ctx, out: str):
        """Ingest and transform: CSV -> raw parquet -> three layers."""
        raw = readers.read_csv(ctx.spark, self.csv, MOVIES_RAW_SCHEMA)
        sinks.write_parquet(raw, f"{out}/raw")
        return pipeline.run_movie_pipeline(
            ctx.spark, readers.read_parquet(ctx.spark, f"{out}/raw"), out)

    def layers_ok(self, ctx, out: str, result) -> bool:
        got = [tuple(r) for r in ctx.spark.read.parquet(
            f"{out}/genre_average_revenue").collect()]
        got.sort(key=lambda r: (-r[1], r[0]))
        return (same_rows(got, self.summary)
                and (result.facts_rows, result.genre_fact_rows,
                     result.summary_rows)
                == (self.facts_rows, self.genre_fact_rows, len(self.summary)))

    def layer_bytes(self, out: str) -> dict[str, int]:
        return {name: tree_bytes(f"{out}/{name}", ".parquet")
                for name in ("raw",) + LAYERS}

    def bytes_ratio(self, out: str) -> float:
        return sum(self.layer_bytes(out).values()) / self.csv_bytes


class KpiRefresh:
    """The paper's daily batch, repeated: ingest, transform, publish."""

    name = "kpi_refresh"
    warmup_cycles = 1

    def setup(self, ctx) -> None:
        t0 = time.perf_counter()
        self.raw = RawInput(ctx)
        ctx.setup["generate_s"] = time.perf_counter() - t0
        self.out = os.path.join(ctx.work, "layers")

    def _refresh(self, ctx):
        result = self.raw.publish(ctx, self.out)
        exported = [sinks.bounded_export(
            readers.read_parquet(ctx.spark, f"{self.out}/{name}"),
            lambda batch: None, max_rows=EXPORT_CAP) for name in LAYERS]
        return result, exported

    def _check(self, ctx, out) -> bool:
        result, exported = out
        want = [min(EXPORT_CAP, n) for n in (
            self.raw.facts_rows, self.raw.genre_fact_rows, len(self.raw.summary))]
        return exported == want and self.raw.layers_ok(ctx, self.out, result)

    def cycle(self, ctx, k: int) -> None:
        ctx.op("refresh", lambda: self._refresh(ctx), lambda out: self._check(ctx, out))

    def bytes_per_input_byte(self) -> float:
        return self.raw.bytes_ratio(self.out)

    def layer_metrics(self, ctx, tracer) -> dict:
        per_op = {key: [] for key in (
            "readers.read_csv_ms", "sinks.write_parquet_ms",
            "sinks.write_parquet_jobs", "sinks.write_parquet_tasks",
            "kpi.plan_ms", "pipeline.self_ms", "pipeline.self_jobs",
            "sinks.bounded_export_ms")}
        for op in ctx.traced_ops("refresh"):
            root = op["root"]

            def dur(name):
                return 1000 * sum(s["end"] - s["start"]
                                  for s in tracer.per_root(root, name))

            writes = tracer.per_root(root, "sinks.write_parquet")
            pipe = tracer.per_root(root, "pipeline")
            per_op["readers.read_csv_ms"].append(dur("readers.read_csv"))
            per_op["sinks.write_parquet_ms"].append(dur("sinks.write_parquet"))
            per_op["sinks.write_parquet_jobs"].append(sum(s["jobs"] for s in writes))
            per_op["sinks.write_parquet_tasks"].append(sum(s["tasks"] for s in writes))
            per_op["kpi.plan_ms"].append(dur("kpi.plan"))
            per_op["pipeline.self_ms"].append(
                1000 * sum(tracer.self_seconds(s) for s in pipe))
            per_op["pipeline.self_jobs"].append(sum(s["jobs"] for s in pipe))
            per_op["sinks.bounded_export_ms"].append(dur("sinks.bounded_export"))
        out = {k: median_or_zero(v) for k, v in per_op.items()}
        out.update({f"layer_bytes.{k}": v
                    for k, v in self.raw.layer_bytes(self.out).items()})
        return out


class KpiDashboard:
    """Dashboard reads over the layers one refresh published in set-up."""

    name = "kpi_dashboard"
    warmup_cycles = 3

    def setup(self, ctx) -> None:
        t0 = time.perf_counter()
        self.raw = RawInput(ctx)
        self.stream = gen.query_stream(ctx.seed, QUERY_KINDS, rounds=1000)
        self.expected: dict[tuple, list] = {}
        ctx.setup["generate_s"] = time.perf_counter() - t0
        self.out = os.path.join(ctx.work, "layers")
        ctx.op("publish", lambda: self.raw.publish(ctx, self.out),
               lambda result: self.raw.layers_ok(ctx, self.out, result))

    def _query(self, ctx, kind: str, p: int):
        spark = ctx.spark
        with ctx.span(f"query.{kind}.plan"):
            if kind == "bq1_top_genres":
                df = readers.read_parquet(
                    spark, f"{self.out}/genre_average_revenue").orderBy(
                    F.col("average_revenue").desc(), "genre_name").limit(p)
            else:
                facts = readers.read_parquet(spark, f"{self.out}/movie_facts")
                if kind == "bq2_budget_revenue":
                    df = kpi.budget_revenue_relationship(facts)
                elif kind == "bq3_films_per_year":
                    df = kpi.films_per_year(facts)
                elif kind == "bq4_country_popularity":
                    df = kpi.country_popularity(facts)
                elif kind == "bq5_runtime_rating":
                    df = kpi.runtime_rating_relationship(facts, bucket_minutes=p)
                else:
                    df = facts.filter(F.col("release_year") == p).orderBy(
                        F.col("revenue").desc_nulls_last(),
                        F.col(KEY).asc_nulls_last(),
                    ).limit(10).select(KEY, "title", "revenue")
        with ctx.span(f"query.{kind}.exec"):
            return [tuple(r) for r in df.collect()]

    def _check(self, kind: str, p: int, got: list) -> bool:
        if (kind, p) not in self.expected:
            self.expected[kind, p] = self.raw.oracle.dashboard(kind, p)
        return same_rows(got, self.expected[kind, p])

    def cycle(self, ctx, k: int) -> None:
        n = len(QUERY_KINDS)
        for kind, p in self.stream[k * n % len(self.stream):][:n]:
            ctx.op(kind, lambda: self._query(ctx, kind, p),
                   lambda got: self._check(kind, p, got))

    def bytes_per_input_byte(self) -> float:
        return self.raw.bytes_ratio(self.out)

    def layer_metrics(self, ctx, tracer) -> dict:
        out = {}
        for kind in QUERY_KINDS:
            plan, exe, jobs = [], [], []
            for op in ctx.traced_ops(kind):
                root = op["root"]
                p = tracer.per_root(root, f"query.{kind}.plan")
                e = tracer.per_root(root, f"query.{kind}.exec")
                plan.append(1000 * sum(s["end"] - s["start"] for s in p))
                exe.append(1000 * sum(s["end"] - s["start"] for s in e))
                jobs.append(op["jobs"])
            out[f"query.{kind}.plan_ms"] = median_or_zero(plan)
            out[f"query.{kind}.exec_ms"] = median_or_zero(exe)
            out[f"query.{kind}.jobs"] = median_or_zero(jobs)
        out.update({f"layer_bytes.{k}": v
                    for k, v in self.raw.layer_bytes(self.out).items()})
        return out


class FactsUpsertLookup:
    """Appends of new movie-id batches to a snapshot table, point lookups
    after each commit, and periodic small-file compaction."""

    name = "facts_upsert_lookup"
    warmup_cycles = COMPACT_EVERY

    def setup(self, ctx) -> None:
        t0 = time.perf_counter()
        self.inputs = os.path.join(ctx.work, "input")
        os.makedirs(self.inputs, exist_ok=True)
        self.base = gen.facts_rows(ctx.seed, 0, gen.snapshot_base_ids(BASE_ROWS))
        base_dir = os.path.join(self.inputs, "base")
        os.makedirs(base_dir, exist_ok=True)
        per_file = BASE_ROWS // BASE_FILES
        for i in range(BASE_FILES):
            pq.write_table(self.base.slice(i * per_file, per_file),
                           os.path.join(base_dir, f"part-{i}.parquet"))
        self.seed = ctx.seed
        self.batches: dict[int, object] = {}
        ctx.setup["generate_s"] = time.perf_counter() - t0
        self.table = os.path.join(ctx.work, "facts_table")
        self.input_bytes = tree_bytes(base_dir)
        ctx.op("commit_base", lambda: snapshots.commit_snapshot(
            ctx.spark, readers.read_parquet(ctx.spark, base_dir), self.table,
            mode="overwrite",
            stats_cols=[KEY], bloom_col=KEY,
            bloom_bits=snapshots.bloom_bits_for_rows(BATCH_ROWS)),
            lambda v: v == 1)
        self.bytes_ratio = None

    def _batch_file(self, k: int) -> str:
        path = os.path.join(self.inputs, f"batch-{k}.parquet")
        self.batches[k] = gen.facts_rows(
            self.seed, k + 1, gen.append_ids(k, BATCH_ROWS))
        pq.write_table(self.batches[k], path)
        self.input_bytes += os.path.getsize(path)
        return path

    def _expected(self, key: int):
        if key < gen.APPEND_ID:
            i = key - gen.SNAP_BASE_ID - 1
            row = self.base.slice(i, 1).to_pylist()[0]
        else:
            slot = (key - gen.APPEND_ID) // 2
            k, j = divmod(slot, BATCH_ROWS)
            row = self.batches[k].slice(j, 1).to_pylist()[0]
        return tuple(row.values())

    def _lookup(self, ctx, key: int):
        df = snapshots.read_snapshot(ctx.spark, self.table,
                                     prune_point=(KEY, key))
        with ctx.span("lookup.exec"):
            return [tuple(r) for r in df.filter(F.col(KEY) == key).collect()]

    def _lookup_ok(self, key: int, present: bool, rows: list) -> bool:
        if not present:
            return rows == []
        # parquet round-trips the generated values bit for bit
        return rows == [self._expected(key)]

    def _data_files(self) -> set[str]:
        return {os.path.join(d, f) for d, _, files in os.walk(self.table)
                for f in files if f.endswith(".parquet")}

    def _compacted(self, out: dict, before: set[str]) -> bool:
        """Check a compaction and record the bytes it wrote."""
        out["bytes_rewritten"] = sum(
            os.path.getsize(f) for f in self._data_files() - before)
        return out["files_rewritten"] > 0

    def cycle(self, ctx, k: int) -> None:
        path = self._batch_file(k)
        version = snapshots.snapshot_versions(ctx.spark, self.table)[-1]
        ctx.op("commit", lambda: snapshots.commit_snapshot(
            ctx.spark, readers.read_parquet(ctx.spark, path), self.table,
            mode="append", stats_cols=[KEY], bloom_col=KEY),
            lambda v: v == version + 1)
        keys = gen.lookup_keys(ctx.seed, k, BATCH_ROWS, BASE_ROWS,
                               LOOKUPS_PER_COMMIT, ABSENT_SHARE)
        for key, present in keys:
            ctx.op("lookup_hit" if present else "lookup_miss",
                   lambda: self._lookup(ctx, key),
                   lambda rows: self._lookup_ok(key, present, rows))
        if (k + 1) % COMPACT_EVERY == 0:
            before = self._data_files()
            ctx.op("compact", lambda: snapshots.compact_small_files(
                ctx.spark, self.table, small_file_bytes=SMALL_FILE_BYTES,
                target_file_bytes=TARGET_FILE_BYTES, stats_cols=[KEY]),
                lambda out: self._compacted(out, before))
        if k + 1 == self.warmup_cycles:
            # storage is read at a fixed point of the op schedule, so it
            # is exact for a seed whatever the timed window holds
            self.bytes_ratio = tree_bytes(self.table) / self.input_bytes

    def bytes_per_input_byte(self) -> float:
        return self.bytes_ratio

    def layer_metrics(self, ctx, tracer) -> dict:
        commit_ms, commit_jobs, files_ms, files_read = [], [], [], []
        hits = 0
        for op in ctx.traced_ops("commit"):
            spans = tracer.per_root(op["root"], "snapshots.commit")
            commit_ms.append(1000 * sum(s["end"] - s["start"] for s in spans))
            commit_jobs.append(op["jobs"])
        for kind in ("lookup_hit", "lookup_miss"):
            for op in ctx.traced_ops(kind):
                spans = tracer.per_root(op["root"], "snapshots.snapshot_files")
                files_ms.append(1000 * (spans[0]["end"] - spans[0]["start"]))
                files_read.append(len(spans[0]["result"]))
                hits += kind == "lookup_hit"
        compacts = ctx.traced_ops("compact")
        return {
            "snapshots.commit_ms": median_or_zero(commit_ms),
            "snapshots.commit_jobs": median_or_zero(commit_jobs),
            "snapshots.snapshot_files_ms": median_or_zero(files_ms),
            "snapshots.files_read_per_lookup": (
                statistics.fmean(files_read) if files_read else 0.0),
            "snapshots.key_file_share": (
                hits / sum(files_read) if sum(files_read) else 0.0),
            "snapshots.compact_ms": median_or_zero(
                [1000 * op["seconds"] for op in compacts]),
            "snapshots.compact_bytes_rewritten": median_or_zero(
                [op["out"]["bytes_rewritten"] for op in compacts]),
        }


WORKLOADS = {w.name: w for w in (KpiRefresh, KpiDashboard, FactsUpsertLookup)}
