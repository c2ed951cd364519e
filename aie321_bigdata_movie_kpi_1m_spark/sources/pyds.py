"""Python DataSource connector: a chunked-CSV interchange layer with
file-level min/max data skipping.

The reference keeps its outbound boundary in a Sheets publisher
(ref publish.py:102-167: bounded, chunked, quota-aware uploads).  This
module re-expresses that boundary as a Spark 4 Python DataSource — the
engine's *pluggable* source/sink extension point — so the same contract
(bounded chunks + a manifest) is a real `spark.read.format(...)` /
`df.write.format(...)` connector instead of a helper function:

- the WRITER emits row-capped CSV chunks per task and a driver-side
  ``manifest.json`` carrying the schema plus per-chunk row counts and
  min/max stats on a chosen column;
- the READER maps each chunk to an ``InputPartition`` and implements
  ``pushFilters`` so comparison predicates on the stats column prune
  whole chunks on the driver before any task launches — the same
  file-skipping contract parquet row-group stats / lakehouse file stats
  provide at 100 TB.  Pushed filters are returned as unsupported, so
  Spark still applies them row-level: stats pruning is an optimization,
  never the correctness boundary.

Row parsing runs in Python: this connector is for bounded interchange
layers (the Sheets-quota analog), not the hot scan path — the native
CSV/parquet readers (sources/readers.py) stay the bulk path.

Sharp edge shared by every filter-pushdown Python DataSource (verified
in Spark 4.1 — see sources/snapshot_batch.py for the full analysis):
use ONE ``load()`` per query.  The JVM caches the planned read in
mutable per-relation state, and a query WITHOUT any filter reuses the
LAST planning's (possibly pruned) partitions.

Supported column types: long/int, double, string, boolean.  NULL is the
``\\N`` sentinel (same convention as the csv_roundtrip layer); a string
VALUE equal to ``\\N`` is therefore not representable here.
"""

from __future__ import annotations

import csv
import json
import os
import uuid
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    Filter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from .pruning import (
    _normalize_filters,
    _Pred,
    _record_schema,
    manifest_raw,
    range_keeps,
    read_json,
    versions,
)

_NULL = "\\N"
_MANIFEST = "manifest.json"
_SUPPORTED = {"long", "int", "integer", "bigint", "double", "string", "boolean"}


def _converters(schema: StructType):
    convs = []
    for f in schema.fields:
        t = f.dataType.simpleString()
        if t not in _SUPPORTED:
            raise ValueError(
                f"chunked_csv supports long/int/double/string/boolean; "
                f"column {f.name!r} has type {t}"
            )
        if t in ("long", "int", "integer", "bigint"):
            convs.append(int)
        elif t == "double":
            convs.append(float)
        elif t == "boolean":
            convs.append(lambda s: s == "true")
        else:
            convs.append(lambda s: s)
    return convs


@dataclass
class _ChunkPartition(InputPartition):
    path: str


@dataclass
class _ChunkCommit(WriterCommitMessage):
    files: list  # of (name, rows, min, max)


class _ChunkedCsvReader(DataSourceReader):
    def __init__(self, path: str, schema: StructType):
        self._path = path
        self._manifest = read_json(os.path.join(path, _MANIFEST))
        self._schema = schema
        sc = self._manifest.get("stats_col")
        self._stats_col = sc if sc in schema.fieldNames() else None
        self._preds: list[_Pred] = []

    def pushFilters(self, filters: list[Filter]):
        self._preds = [
            p for p in _normalize_filters(filters) if p.col == self._stats_col
        ]
        # claim nothing: Spark re-applies every filter row-level, so the
        # chunk-granular stats pruning below can never drop matching rows
        return filters

    def partitions(self):
        # a chunk's [min, max] on the stats column, pruned by the shared
        # rule set (sources/pruning.py): an all-NULL chunk records
        # [None, None] and is skipped, since every pushed filter is
        # NULL-rejecting
        return [
            _ChunkPartition(os.path.join(self._path, f["name"]))
            for f in self._manifest["files"]
            if all(range_keeps([f["min"], f["max"]], p) for p in self._preds)
        ]

    def read(self, partition: _ChunkPartition) -> Iterator[tuple]:
        convs = _converters(self._schema)
        with open(partition.path, newline="") as fh:
            for rec in csv.reader(fh):
                yield tuple(
                    None if s == _NULL else conv(s)
                    for s, conv in zip(rec, convs)
                )


class _ChunkedCsvWriter(DataSourceWriter):
    def __init__(
        self, path: str, schema: StructType, options: dict, overwrite: bool
    ):
        self._path = path
        self._schema = schema
        self._overwrite = overwrite
        self._chunk_rows = int(options.get("chunk_rows", 10000))
        self._stats_col = options.get("stats_col")
        names = [f.name for f in schema.fields]
        self._stats_idx = (
            names.index(self._stats_col) if self._stats_col in names else None
        )
        _converters(schema)  # validate types up front, driver-side
        os.makedirs(path, exist_ok=True)

    def write(self, iterator) -> _ChunkCommit:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        n_fields = len(self._schema.fields)
        files, writer, fh = [], None, None
        name, rows, mn, mx = None, 0, None, None

        def roll():
            nonlocal writer, fh, name, rows, mn, mx
            if fh is not None:
                fh.close()
                files.append((name, rows, mn, mx))
            name = f"part-{pid:05d}-{uuid.uuid4().hex[:8]}.csv"
            fh = open(os.path.join(self._path, name), "w", newline="")
            writer = csv.writer(fh)
            rows, mn, mx = 0, None, None

        roll()
        try:
            for row in iterator:
                if rows >= self._chunk_rows:
                    roll()
                vals = [row[i] for i in range(n_fields)]
                if self._stats_idx is not None:
                    v = vals[self._stats_idx]
                    if v is not None:
                        mn = v if mn is None or v < mn else mn
                        mx = v if mx is None or v > mx else mx
                writer.writerow(
                    [
                        _NULL
                        if v is None
                        else ("true" if v is True else "false")
                        if isinstance(v, bool)
                        else v
                        for v in vals
                    ]
                )
                rows += 1
        except BaseException:
            # a failed task returns no commit message, so abort() cannot
            # name these files — clean up this attempt's output here or
            # retried tasks accumulate orphan chunks (and a leaked handle)
            fh.close()
            for orphan in [n for (n, *_r) in files] + [name]:
                try:
                    os.remove(os.path.join(self._path, orphan))
                except OSError:
                    pass
            raise
        fh.close()
        if rows > 0:
            files.append((name, rows, mn, mx))
        else:
            os.remove(os.path.join(self._path, name))
        return _ChunkCommit(files=files)

    def commit(self, messages) -> None:
        files = [
            {"name": n, "rows": r, "min": mn, "max": mx}
            for m in messages
            for (n, r, mn, mx) in m.files
        ]
        manifest_path = os.path.join(self._path, _MANIFEST)
        if not self._overwrite and os.path.exists(manifest_path):
            # append mode: the new manifest must keep the layer's existing
            # chunks readable — replacing it wholesale would silently drop
            # every previously written row from reads
            prior = read_json(manifest_path)
            if prior["schema"] != self._schema.json():
                raise ValueError(
                    "chunked_csv append: schema differs from the existing "
                    "layer's manifest"
                )
            if prior.get("stats_col") != self._stats_col:
                raise ValueError(
                    "chunked_csv append: stats_col differs from the "
                    "existing layer's manifest"
                )
            files = prior["files"] + files
        manifest = {
            "schema": self._schema.json(),
            "stats_col": self._stats_col,
            "files": files,
        }
        with open(manifest_path, "w") as fh:
            json.dump(manifest, fh, indent=1)

    def abort(self, messages) -> None:
        for m in messages:
            if m is None:
                continue
            for (n, *_rest) in m.files:
                try:
                    os.remove(os.path.join(self._path, n))
                except OSError:
                    pass


class ChunkedCsvDataSource(DataSource):
    """``spark.read.format("chunked_csv")`` / ``df.write.format("chunked_csv")``.

    Options: ``path`` (required), ``chunk_rows`` (writer, default 10000),
    ``stats_col`` (writer: column to record chunk min/max for; reader
    prunes on it automatically).
    """

    @classmethod
    def name(cls) -> str:
        return "chunked_csv"

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("chunked_csv requires a 'path' option")
        return path

    def schema(self):
        manifest = read_json(os.path.join(self._path(), _MANIFEST))
        return StructType.fromJson(json.loads(manifest["schema"]))

    def reader(self, schema: StructType) -> DataSourceReader:
        return _ChunkedCsvReader(self._path(), schema)

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        path = self._path()
        if overwrite and os.path.isdir(path):
            for f in os.listdir(path):
                if f.endswith(".csv") or f == _MANIFEST:
                    os.remove(os.path.join(path, f))
        return _ChunkedCsvWriter(path, schema, dict(self.options), overwrite)


class _ReplayStreamReader(SimpleDataSourceStreamReader):
    """Offset-tracked replay of a parquet file in fixed row-count
    micro-batches.  The offset is the absolute row position, so a
    restarted query resumes exactly where the checkpoint left it and
    ``readBetweenOffsets`` can re-serve any committed range — the
    exactly-once replay contract a Kafka-backed source provides.

    ``SimpleDataSourceStreamReader`` reads on the DRIVER (Spark prefetches
    and caches each range): right for bounded replay/backfill and tests;
    a production bus source implements the partition-planning
    ``DataSourceStreamReader`` instead, same offset algebra.
    """

    def __init__(self, options: dict):
        self._path = options["path"]
        self._cols = options["cols"].split(",")
        self._table = None  # lazy, cached for the reader's lifetime
        if "n_batches" in options:
            # scale-stable batching: split the file into a fixed number
            # of micro-batches regardless of row count (footer-only read)
            import pyarrow.parquet as pq

            n_rows = pq.ParquetFile(self._path).metadata.num_rows
            n_b = max(1, int(options["n_batches"]))
            self._batch = max(1, -(-n_rows // n_b))
        else:
            self._batch = int(options.get("batch_rows", 10000))

    def initialOffset(self):
        return {"row": 0}

    def _slice(self, lo: int, hi: int):
        import pyarrow.parquet as pq

        if self._table is None:
            self._table = pq.read_table(self._path, columns=self._cols)
        table = self._table
        hi = min(hi, table.num_rows)
        if lo >= hi:
            return [], lo
        sl = table.slice(lo, hi - lo)
        cols = [sl.column(c).to_pylist() for c in self._cols]
        return list(zip(*cols)), hi

    def read(self, start):
        lo = start["row"]
        rows, hi = self._slice(lo, lo + self._batch)
        return iter(rows), {"row": hi}

    def readBetweenOffsets(self, start, end):
        rows, _ = self._slice(start["row"], end["row"])
        return iter(rows)

    def commit(self, end) -> None:
        pass


@dataclass
class _ReplayRangePartition(InputPartition):
    path: str
    cols: tuple
    lo: int
    hi: int


class _ReplayStreamReaderPartitioned(DataSourceStreamReader):
    """Partition-planning replay reader: the PRODUCTION shape of the
    replay source.

    The driver-side runner only does offset algebra (footer row count,
    row-range arithmetic — metadata, never data); each micro-batch's row
    range is split into ``tasks_per_batch`` contiguous
    ``InputPartition``s and the parquet rows are read ON THE EXECUTORS
    with a row-group-aware range scan.  No row ever passes through the
    driver, so batch size can scale with the cluster instead of with
    driver memory — the property ``SimpleDataSourceStreamReader`` (which
    prefetches every batch on the driver) fundamentally lacks.

    Offset contract is identical to the simple variant ({"row": n},
    absolute row position), so checkpoints are interchangeable.

    ``latestOffset`` reports the TRUE available end of the log (here:
    the file's row count) — never a paced cursor.  The engine compares
    offsets by equality and calls ``latestOffset`` before any
    ``commit`` on restart, so a reader-local pacing cursor rewinds
    behind the checkpoint and re-serves committed rows (verified
    empirically); the Python API exposes no ReadLimit hook to pace
    batches safely.  Bounded replay therefore lands as one
    micro-batch fanned into ``tasks_per_batch`` executor tasks;
    paced multi-batch replay (``readBetweenOffsets`` re-serving) is
    the simple variant's documented role (``reader_mode=simple``).
    """

    def __init__(self, options: dict):
        import pyarrow.parquet as pq

        self._path = options["path"]
        self._cols = tuple(options["cols"].split(","))
        self._n_rows = pq.ParquetFile(self._path).metadata.num_rows
        # n_batches is accepted as a parallelism hint so callers can
        # switch reader modes without retuning options
        self._tasks = max(
            1,
            int(
                options.get(
                    "tasks_per_batch", options.get("n_batches", 4)
                )
            ),
        )

    def initialOffset(self) -> dict:
        return {"row": 0}

    def latestOffset(self) -> dict:
        return {"row": self._n_rows}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["row"], end["row"]
        if hi <= lo:
            return [_ReplayRangePartition(self._path, self._cols, lo, lo)]
        step = max(1, -(-(hi - lo) // self._tasks))
        return [
            _ReplayRangePartition(self._path, self._cols, a, min(a + step, hi))
            for a in range(lo, hi, step)
        ]

    def read(self, partition: _ReplayRangePartition) -> Iterator[tuple]:
        # executor-side: touch only the row groups overlapping [lo, hi)
        import pyarrow.parquet as pq

        if partition.hi <= partition.lo:
            return
        pf = pq.ParquetFile(partition.path)
        md = pf.metadata
        groups: list[int] = []
        acc, base = 0, None
        for i in range(md.num_row_groups):
            n = md.row_group(i).num_rows
            if acc < partition.hi and acc + n > partition.lo:
                if base is None:
                    base = acc
                groups.append(i)
            acc += n
        if not groups:
            return
        table = pf.read_row_groups(groups, columns=list(partition.cols))
        sl = table.slice(partition.lo - base, partition.hi - partition.lo)
        cols = [sl.column(c).to_pylist() for c in partition.cols]
        yield from zip(*cols)

    def commit(self, end: dict) -> None:
        pass


class ReplayParquetDataSource(DataSource):
    """``spark.readStream.format("replay_parquet")`` — replay a parquet
    file as an offset-tracked stream (options: ``path``, ``cols``
    comma-list, ``batch_rows`` or ``n_batches``, ``tasks_per_batch``).
    Schema is derived from the parquet footer for the requested columns.

    Two readers, one offset algebra: the default is the
    partition-planning executor-side reader; ``reader_mode=simple``
    selects the driver-prefetch ``SimpleDataSourceStreamReader`` (which
    additionally serves ``readBetweenOffsets`` re-reads — the
    test/backfill path)."""

    _ARROW_TO_DDL = {
        "int64": "long",
        "int32": "int",
        "double": "double",
        "float": "float",
        "string": "string",
        "large_string": "string",
        "bool": "boolean",
    }

    @classmethod
    def name(cls) -> str:
        return "replay_parquet"

    def schema(self):
        # one copy of the footer-to-DDL mapping (module-level helper);
        # the module is pickled by value, so the reference travels intact
        return replay_schema_ddl(self.options["path"], self.options["cols"])

    def streamReader(self, schema):
        if self.options.get("reader_mode") == "simple":
            # fall back to simpleStreamReader() (pyspark tries this
            # method first and catches exactly this error)
            from pyspark.errors import PySparkNotImplementedError

            raise PySparkNotImplementedError(
                errorClass="NOT_IMPLEMENTED",
                messageParameters={"feature": "streamReader"},
            )
        return _ReplayStreamReaderPartitioned(dict(self.options))

    def simpleStreamReader(self, schema):
        return _ReplayStreamReader(dict(self.options))


def register_chunked_csv(spark) -> None:
    """Idempotently register the connector on a session."""
    from ..session import ensure_package_on_workers

    # the DataSource class is pickled by module reference: the session's
    # Python workers need this package importable (plain driver sessions
    # don't have the repo on PYTHONPATH — same trap as mapInPandas
    # closures, see session.ensure_package_on_workers)
    ensure_package_on_workers(spark)
    # pushFilters support is gated by a conf that defaults to false; set
    # it defensively (the caller's session — e.g. the driver's own — was
    # not necessarily built by session.get_spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ChunkedCsvDataSource)


def replay_schema_ddl(path: str, cols: str) -> str:
    """Driver-side schema DDL for a replay_parquet stream (footer-only).

    Passing this to ``readStream.schema(...)`` skips the engine's
    ``DataSource.schema()`` round-trip, which spawns a dedicated Python
    worker process (~1.5 s of fixed latency per stream definition).
    ``ReplayParquetDataSource.schema`` delegates here — this is the one
    copy of the footer-to-DDL mapping.
    """
    import pyarrow.parquet as pq

    footer = pq.read_schema(path)
    parts = []
    for c in cols.split(","):
        arrow_t = str(footer.field(c).type)
        if arrow_t not in ReplayParquetDataSource._ARROW_TO_DDL:
            raise ValueError(
                f"replay_parquet: unsupported column type {arrow_t!r} for {c!r}"
            )
        parts.append(f"{c} {ReplayParquetDataSource._ARROW_TO_DDL[arrow_t]}")
    return ", ".join(parts)


def _register_by_value(spark, source) -> None:
    """Idempotently register a streaming source.  Executor-side workers
    learn the package via addPyFile, but the STREAMING source runner is
    a separate driver-side Python process that does not see addPyFile —
    pickle this module and the manifest readers it uses
    (``sources/pruning.py``) by value so the class arrives
    self-contained (it only needs pyarrow + stdlib)."""
    import sys

    from pyspark import cloudpickle

    from ..session import ensure_package_on_workers
    from . import pruning

    for mod in (sys.modules[__name__], pruning):
        cloudpickle.register_pickle_by_value(mod)
    ensure_package_on_workers(spark)
    spark.dataSource.register(source)


def register_replay_parquet(spark) -> None:
    """Idempotently register the streaming replay connector."""
    _register_by_value(spark, ReplayParquetDataSource)


@dataclass
class _SnapshotFilePartition(InputPartition):
    file: str | None
    cols: tuple
    # cdf mode: True = a data file whose rows are synthesized as
    # 'insert' changes; False = a recorded change file carrying its own
    # change_type column.  Ignored outside cdf mode.
    synth_insert: bool = True
    cdf: bool = False
    # equality-key DELETE step (cdf mode, cache not yet materialized):
    # (keys_path, key_col, prev_pos_dirs, prev_eq_entries) — ``file`` is
    # a TOUCHED data file; the executor reconstructs its v-1 rows (prev
    # deletes applied), keeps those whose key is in the key set, and
    # emits them as 'delete' changes — O(touched files), parallel, no
    # driver-side data hop
    eq_del: tuple | None = None
    # cdf mode: the manifest version that produced this partition's
    # changes — emitted as the `_commit_version` column (Delta's
    # readChangeFeed shape), so a consumer applying a multi-version
    # batch can replay the versions IN COMMIT ORDER (an insert and a
    # later delete of the same key net out correctly)
    version: int = 0


class _SnapshotStreamReader(DataSourceStreamReader):
    """Streaming reader over the snapshot-versioned table layer — the
    layer as a STREAM SOURCE (Delta's streaming-source semantics):
    offsets are MANIFEST VERSIONS, and a micro-batch's rows are the
    data files added across the consumed version range (the same
    manifest set difference as ``snapshots.snapshot_append_delta``), so
    the driver-side runner does only manifest-JSON algebra and every
    row is read ON THE EXECUTORS, one task per new file.

    First batch = the start version's full file set (the initial
    snapshot); every later batch = appended files only.  Non-append
    versions or live deletion vectors in the consumed range RAISE
    (file difference is not row difference there — the same guard the
    batch delta feed enforces; Delta calls this ignoreChanges
    territory).  A vacuumed start offset raises rather than silently
    re-serving the whole table.

    The runner process has no JVM, so manifests are read with plain
    file IO — file:// layers (the test substrate); an object-store
    deployment would read manifests through its native client here.
    The constructor ENFORCES that boundary: a non-file scheme raises
    immediately instead of the silent failure modes plain file IO
    would produce on a remote substrate (an empty version listing
    reading as "no data", or the equality-delete cache probe below
    always missing and the reader never using an existing cache).
    """

    def __init__(self, options: dict):
        import re

        self._path = options["path"]
        # ANY RFC-3986 scheme prefix counts — including the
        # single-slash Hadoop forms ("hdfs:/warehouse/t",
        # "s3:/bucket/t") that parse to scheme '' under a naive
        # "://"-only split and would fall through to plain file IO,
        # exactly the silent no-data failure this guard exists to stop
        mt = re.match(r"^([A-Za-z][A-Za-z0-9+.\-]*):", self._path)
        scheme = mt.group(1) if mt else ""
        if scheme not in ("", "file"):
            raise ValueError(
                "SnapshotStreamDataSource reads manifests with plain "
                f"file IO and supports only file:// layers; got scheme "
                f"{scheme!r} in {self._path!r} — an object-store "
                "deployment must plug its native client into the "
                "manifest reads here"
            )
        self._path = self._path.removeprefix("file://").removeprefix(
            "file:"
        )
        self._cols = tuple(options["cols"].split(","))
        # mode=cdf: stream the CHANGE DATA FEED instead of appended
        # rows — merge/predicate-delete versions are consumed through
        # their recorded change files (change_feed table property) and
        # appends/compactions through the segment diff, so the stream
        # survives the full CDC-maintained lifecycle where plain file
        # tailing must raise; rows carry a change_type column
        self._mode = options.get("mode", "append")

    def _versions(self) -> list[int]:
        return versions(self._path)

    def _file_set(self, m: dict) -> set[str]:
        """All data files of one manifest — loads every segment; only
        used for a stream's initial snapshot, where O(all) is the honest
        cost."""
        out: set[str] = set()
        for e in m.get("segments") or []:
            out.update(read_json(e["path"])["files"])
        return out

    def initialOffset(self) -> dict:
        return {"version": 0}

    def latestOffset(self) -> dict:
        vs = self._versions()
        return {"version": vs[-1] if vs else 0}

    def _change_files(self, m: dict) -> list[str]:
        import os

        d = m["changes"]["path"].removeprefix("file:")
        return sorted(
            os.path.join(d, n)
            for n in os.listdir(d)
            if n.endswith(".parquet")
        )

    def _partitions_cdf(self, s: int, e: int, vs: list[int]):
        """CDF-mode planning: (file, synth_insert) pairs per consumed
        version — appends contribute new segment files as synthesized
        inserts, merge/delete versions their recorded change files,
        equality-key deletes their touched files (pre-images
        reconstructed executor-side, or the materialized cache when a
        batch CDF read already built it), compactions nothing; anything
        else (overwrite, restore, a change-feed-less merge) raises: the
        feed cannot be reconstructed without a table diff, which a
        stream must not pay."""
        import os

        have_prev = s in vs
        prev_m = manifest_raw(self._path, s) if have_prev else None
        out: list[tuple[str, bool, int]] = []
        eq_parts: list[_SnapshotFilePartition] = []
        for v in [x for x in vs if s < x <= e]:
            m = manifest_raw(self._path, v)
            mode = m.get("mode")
            if not have_prev:
                # initial snapshot: the start version's full content as
                # inserts; live DVs would need runner-side application
                if m.get("delete_files"):
                    raise ValueError(
                        f"cdf stream initial version v{v} carries "
                        "deletion vectors — compact first"
                    )
                out.extend(
                    (f, True, v) for f in sorted(self._file_set(m))
                )
            elif mode == "append":
                prev_seg = {
                    e2["path"] for e2 in prev_m.get("segments") or []
                }
                if [e2["path"] for e2 in prev_m.get("delete_files") or []] != [
                    e2["path"] for e2 in m.get("delete_files") or []
                ]:
                    raise ValueError(
                        f"version {v}: append changed deletion vectors "
                        "— not a pure append"
                    )
                for entry in m.get("segments") or []:
                    if entry["path"] not in prev_seg:
                        out.extend(
                            (f, True, v)
                            for f in sorted(read_json(entry["path"])["files"])
                        )
            elif mode == "compact":
                pass  # row-content-neutral
            elif mode in ("merge", "delete") and m.get("changes"):
                ch = m["changes"]
                # os.path.isdir is valid here BY CONSTRUCTION: the
                # constructor rejects non-file schemes, so a missing
                # dir really means the lazy pre-image cache is unbuilt
                if ch.get("kind") == "equality_keys" and not os.path.isdir(
                    ch["path"].removeprefix("file:")
                ):
                    # key-only change source, cache not yet built: one
                    # partition per TOUCHED file; the executor
                    # reconstructs that file's v-1 rows and keeps the
                    # key hits as 'delete' changes
                    touched = set(ch["touches"])
                    prev_entries = prev_m.get("delete_files") or []
                    for f in sorted(self._file_set(m)):
                        base = f.rsplit("/", 1)[-1]
                        if base not in touched:
                            continue
                        pos_dirs = tuple(
                            pe["path"]
                            for pe in prev_entries
                            if pe.get("kind") != "equality"
                            and base in pe["touches"]
                        )
                        eq_entries = tuple(
                            (pe["path"], pe["key_col"])
                            for pe in prev_entries
                            if pe.get("kind") == "equality"
                            and base in pe["touches"]
                        )
                        eq_parts.append(
                            _SnapshotFilePartition(
                                f,
                                self._cols,
                                False,
                                cdf=True,
                                eq_del=(
                                    ch["keys_path"],
                                    ch["key_col"],
                                    pos_dirs,
                                    eq_entries,
                                ),
                                version=v,
                            )
                        )
                else:
                    # recorded (or already-materialized) change files
                    out.extend(
                        (f, False, v) for f in self._change_files(m)
                    )
            else:
                raise ValueError(
                    f"version {v} (mode {mode!r}) has no change source "
                    "— enable change_feed on the layer for CDC-tailing "
                    "merges/deletes"
                )
            prev_m = m
            have_prev = True
        parts = [
            _SnapshotFilePartition(f, self._cols, synth, cdf=True, version=v)
            for f, synth, v in out
        ] + eq_parts
        if not parts:
            return [
                _SnapshotFilePartition(None, self._cols, cdf=True)
            ]
        return parts

    def partitions(self, start: dict, end: dict):
        s, e = int(start["version"]), int(end["version"])
        if e <= s:
            return [_SnapshotFilePartition(None, self._cols, cdf=self._mode == "cdf")]
        vs = self._versions()
        if s != 0 and s not in vs:
            raise ValueError(
                f"stream offset v{s} was vacuumed from {self._path}; "
                "restart the stream from a fresh checkpoint"
            )
        if self._mode == "cdf":
            return self._partitions_cdf(s, e, vs)
        have_prev = s in vs
        prev_seg: set[str] | None = None
        if have_prev:
            pm = manifest_raw(self._path, s)
            prev_seg = {e["path"] for e in pm.get("segments") or []}
        files: list[str] = []
        for v in [x for x in vs if s < x <= e]:
            m = manifest_raw(self._path, v)
            if have_prev and m.get("mode") != "append":
                raise ValueError(
                    f"version {v} has mode {m.get('mode')!r}: a snapshot "
                    "stream consumes append-only ranges (overwrite/merge/"
                    "delete need a CDC reader, not file tailing)"
                )
            if m.get("delete_files"):
                raise ValueError(
                    f"version {v} carries deletion vectors — file "
                    "difference is not row difference; compact first"
                )
            cur_seg = {e["path"] for e in m.get("segments") or []}
            if prev_seg is not None:
                # SEGMENT set difference: appends carry prior entries by
                # reference, so only the NEW segments' files are read —
                # the O(delta) planning path for a long-lived tail
                for entry in m.get("segments") or []:
                    if entry["path"] not in prev_seg:
                        files.extend(sorted(read_json(entry["path"])["files"]))
            else:
                # initial snapshot: the start version's whole file set
                files.extend(sorted(self._file_set(m)))
            prev_seg = cur_seg
            have_prev = True
        if not files:
            return [_SnapshotFilePartition(None, self._cols)]
        return [_SnapshotFilePartition(f, self._cols) for f in files]

    def read(self, partition: _SnapshotFilePartition) -> Iterator[tuple]:
        import pyarrow.parquet as pq

        if partition.file is None:
            return
        if partition.eq_del is not None:
            # equality-key DELETE pre-images, reconstructed per touched
            # file: v-1 rows of THIS file (previous deletes applied),
            # kept where the key is in the delete set — the same
            # pyarrow delete-application the snapshot_batch connector
            # runs, emitted as 'delete' changes
            import pyarrow as pa
            import pyarrow.compute as pc

            keys_path, key_col, pos_dirs, eq_entries = partition.eq_del
            local = partition.file.removeprefix("file:")
            base = partition.file.rsplit("/", 1)[-1]
            file_cols = set(pq.read_schema(local).names)
            need = [c for c in partition.cols if c in file_cols]
            for _, kc in eq_entries:
                if kc not in need and kc in file_cols:
                    need.append(kc)
            if key_col not in need and key_col in file_cols:
                need.append(key_col)
            table = pq.read_table(local, columns=need)
            if pos_dirs:
                dead: set[int] = set()
                for d in pos_dirs:
                    dv = pq.read_table(
                        d.removeprefix("file:"), columns=["file", "pos"]
                    ).filter(pc.equal(pc.field("file"), base))
                    dead.update(dv.column("pos").to_pylist())
                if dead:
                    import numpy as np

                    mask = np.ones(table.num_rows, dtype=bool)
                    mask[np.fromiter(dead, dtype=np.int64)] = False
                    table = table.filter(pa.array(mask))
            for kpath, kc in eq_entries:
                if kc not in table.column_names:
                    continue  # evolved file lacking the key: NULL never matches
                prior = pq.read_table(
                    kpath.removeprefix("file:"), columns=[kc]
                ).column(kc)
                hit = pc.fill_null(
                    pc.is_in(table.column(kc), value_set=prior), False
                )
                table = table.filter(pc.invert(hit))
            if key_col in table.column_names:
                dels = pq.read_table(
                    keys_path.removeprefix("file:"), columns=[key_col]
                ).column(key_col)
                keep = pc.fill_null(
                    pc.is_in(table.column(key_col), value_set=dels), False
                )
                table = table.filter(keep)
            else:
                return  # file lacks the key column: nothing deleted here
            cols = [
                (
                    table.column(c).to_pylist()
                    if c in table.column_names
                    else [None] * table.num_rows
                )
                for c in partition.cols
            ]
            for row in zip(*cols):
                yield (*row, "delete", partition.version)
            return
        if not partition.cdf:
            table = pq.read_table(
                partition.file.removeprefix("file:"),
                columns=list(partition.cols),
            )
            cols = [table.column(c).to_pylist() for c in partition.cols]
            yield from zip(*cols)
            return
        if partition.synth_insert:
            table = pq.read_table(
                partition.file.removeprefix("file:"),
                columns=list(partition.cols),
            )
            cols = [table.column(c).to_pylist() for c in partition.cols]
            for row in zip(*cols):
                yield (*row, "insert", partition.version)
        else:
            want = list(partition.cols) + ["change_type"]
            table = pq.read_table(
                partition.file.removeprefix("file:"), columns=want
            )
            cols = [table.column(c).to_pylist() for c in want]
            for row in zip(*cols):
                yield (*row, partition.version)

    def commit(self, end: dict) -> None:
        pass


def snapshot_stream_schema(path: str, cols: str):
    """Driver-side schema for a snapshot_stream (manifest-only; pass to
    ``readStream.schema(...)`` to skip the engine's DataSource.schema
    Python-worker round-trip, same latency story as replay_schema_ddl)."""
    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed snapshot under {path}")
    return _record_schema(manifest_raw(path, vs[-1])["schema"], cols.split(","))


def snapshot_cdf_stream_schema(path: str, cols: str):
    """Schema for a ``mode=cdf`` snapshot stream: the requested columns
    plus the ``change_type`` and ``_commit_version`` feed columns
    (Delta's readChangeFeed shape — the version lets a consumer replay
    a multi-version micro-batch in commit order)."""
    from pyspark.sql import types as T

    base = snapshot_stream_schema(path, cols)
    return T.StructType(
        list(base.fields)
        + [
            T.StructField("change_type", T.StringType()),
            T.StructField("_commit_version", T.LongType()),
        ]
    )


class SnapshotStreamDataSource(DataSource):
    """``spark.readStream.format("snapshot_stream")`` — stream the
    snapshot-versioned table layer (options: ``path`` = layer root,
    ``cols`` = comma-list, ``mode`` = "append" (default, new rows only;
    non-append versions raise) or "cdf" (the CHANGE DATA FEED: rows +
    change_type across appends, compactions, and change-feed-recording
    merge/delete commits — Delta's readChangeFeed streaming shape)).
    Each manifest version is an offset; see ``_SnapshotStreamReader``
    for semantics and guards."""

    @classmethod
    def name(cls) -> str:
        return "snapshot_stream"

    def schema(self):
        if self.options.get("mode") == "cdf":
            return snapshot_cdf_stream_schema(
                self.options["path"], self.options["cols"]
            )
        return snapshot_stream_schema(
            self.options["path"], self.options["cols"]
        )

    def streamReader(self, schema):
        return _SnapshotStreamReader(dict(self.options))


def register_snapshot_stream(spark) -> None:
    """Idempotently register the snapshot-layer streaming source."""
    _register_by_value(spark, SnapshotStreamDataSource)


class _CatalogStreamReader(_SnapshotStreamReader):
    """Streaming reader over the versioned TABLE CATALOG — one table's
    rows, advanced by CATALOG versions (round-8 verdict item 7): each
    offset is a committed catalog version, and a micro-batch's rows are
    the table's LAYER delta between the layer versions that consecutive
    catalog versions pin.  Because a multi-table transaction stages its
    layer commits first and lands the catalog pin in ONE atomic rename,
    a consumer can never observe a staged-but-unswapped layer version —
    the all-or-nothing property per catalog version; two consumers
    tailing different tables that coordinate on the same catalog offset
    see a cross-table-consistent star.

    Inherits the layer reader's guards (append-only ranges unless
    mode=cdf, vacuumed offsets raise, file://-only substrate) and its
    whole planning/read machinery — this class only resolves catalog
    version -> (layer path, layer version range) and delegates.  A
    table REPOINTED to a different layer path inside the consumed range
    raises (a file diff across unrelated paths is meaningless); so does
    a pin that moved backwards (a restore — rewind needs a fresh
    checkpoint, same as Delta)."""

    def __init__(self, options: dict):
        table = options["table"]
        super().__init__(options)  # validates scheme, sets _path/_cols
        self._catalog = self._path
        self._table = table
        # per-version pin cache: catalog manifests are immutable once
        # written (vacuum deletes, never rewrites), so a version's pin
        # never changes — without this the drop/re-add scan re-reads
        # every surviving pre-checkpoint manifest JSON on EVERY
        # microbatch planning call (ADVICE r10)
        self._pin_cache: dict = {}

    def _pin(self, cat_v: int) -> tuple[str, int] | None:
        if cat_v in self._pin_cache:
            return self._pin_cache[cat_v]
        t = read_json(
            os.path.join(self._catalog, "_catalog", f"v{cat_v}.json")
        )["tables"].get(self._table)
        pin = (
            None
            if t is None
            else (
                str(t["path"]).removeprefix("file://").removeprefix("file:"),
                int(t["version"]),
            )
        )
        self._pin_cache[cat_v] = pin
        return pin

    def latestOffset(self) -> dict:
        vs = versions(self._catalog, "_catalog")
        return {"version": vs[-1] if vs else 0}

    def partitions(self, start: dict, end: dict):
        s, e = int(start["version"]), int(end["version"])
        if e <= s:
            return [
                _SnapshotFilePartition(
                    None, self._cols, cdf=self._mode == "cdf"
                )
            ]
        cat_vs = versions(self._catalog, "_catalog")
        if s != 0 and s not in cat_vs:
            raise ValueError(
                f"catalog offset v{s} was vacuumed from {self._catalog}; "
                "restart the stream from a fresh checkpoint"
            )
        # resolve the table's pin at every consumed catalog version:
        # path must stay put, layer versions must not move backwards
        pins = [
            (cv, self._pin(cv))
            for cv in cat_vs
            if (s == 0 or cv >= s) and cv <= e
        ]
        known = [(cv, p) for cv, p in pins if p is not None]
        if not known:
            return [
                _SnapshotFilePartition(
                    None, self._cols, cdf=self._mode == "cdf"
                )
            ]
        paths = {p[0] for _, p in known}
        if len(paths) > 1:
            raise ValueError(
                f"table {self._table!r} was repointed across layer "
                f"paths {sorted(paths)} inside catalog range "
                f"({s}, {e}] — a catalog stream cannot diff across "
                "paths; restart from a fresh checkpoint"
            )
        layer_vs = [p[1] for _, p in known]
        if any(b < a for a, b in zip(layer_vs, layer_vs[1:])):
            raise ValueError(
                f"table {self._table!r} layer pin moved backwards "
                f"({layer_vs}) inside catalog range ({s}, {e}] — a "
                "restore needs a fresh checkpoint"
            )
        # start layer version: the pin AT the start catalog offset.
        # Absent there, two cases split on the table's history BEFORE
        # the checkpoint: never pinned before s -> the table is genuinely
        # new to this stream, initial-snapshot semantics (layer v0) are
        # right; pinned at some earlier surviving catalog version ->
        # the table was DROPPED and re-added after rows were already
        # consumed, and silently replaying from layer v0 would duplicate
        # them — raise, same fresh-checkpoint contract as repoint/rewind
        if s != 0 and known[0][0] != s:
            if any(
                self._pin(cv) is not None for cv in cat_vs if cv < s
            ):
                raise ValueError(
                    f"table {self._table!r} had no pin at consumed "
                    f"catalog offset v{s} but was pinned at an earlier "
                    "catalog version — it was dropped and re-added; "
                    "replaying from layer v0 would duplicate rows, "
                    "restart the stream from a fresh checkpoint"
                )
            # catalog versions are contiguous from v1; if retention
            # vacuumed the history below s, the surviving manifests
            # cannot PROVE the table is genuinely new (a pre-vacuum
            # pin would make a layer-v0 replay duplicate already-
            # consumed rows) — refuse instead of silently replaying
            # (ADVICE r10: the vacuumed-history blind spot)
            if min(cat_vs) > 1:
                raise ValueError(
                    f"table {self._table!r} has no pin at consumed "
                    f"catalog offset v{s} and catalog history below "
                    f"v{min(cat_vs)} was vacuumed — cannot prove the "
                    "table was not dropped and re-added before the "
                    "checkpoint; restart the stream from a fresh "
                    "checkpoint"
                )
        ls = known[0][1][1] if (s != 0 and known[0][0] == s) else 0
        le = layer_vs[-1]
        self._path = paths.pop()
        return super().partitions({"version": ls}, {"version": le})


def catalog_stream_schema(
    cat_path: str, table: str, cols: str, *, mode: str = "append"
):
    """Driver-side schema for a catalog_stream: resolve the table's
    head-catalog layer pin, then reuse the layer schema helper
    (``mode="cdf"`` adds the ``change_type`` feed column, mirroring
    the layer stream)."""
    vs = versions(cat_path, "_catalog")
    if not vs:
        raise FileNotFoundError(f"no committed catalog under {cat_path}")
    t = read_json(os.path.join(cat_path, "_catalog", f"v{vs[-1]}.json"))[
        "tables"
    ][table]
    layer = str(t["path"]).removeprefix("file://").removeprefix("file:")
    if mode == "cdf":
        return snapshot_cdf_stream_schema(layer, cols)
    return snapshot_stream_schema(layer, cols)


class CatalogStreamDataSource(DataSource):
    """``spark.readStream.format("catalog_stream")`` — tail ONE table
    THROUGH the versioned table catalog (options: ``path`` = catalog
    root, ``table`` = table name, ``cols`` = comma-list, ``mode`` =
    "append"/"cdf" as in snapshot_stream).  Offsets are CATALOG
    versions: batches advance only when a catalog swap commits, so
    multi-table transactions are consumed all-or-nothing and never
    half-published; see ``_CatalogStreamReader``."""

    @classmethod
    def name(cls) -> str:
        return "catalog_stream"

    def schema(self):
        return catalog_stream_schema(
            self.options["path"],
            self.options["table"],
            self.options["cols"],
            mode=self.options.get("mode", "append"),
        )

    def streamReader(self, schema):
        return _CatalogStreamReader(dict(self.options))


def register_catalog_stream(spark) -> None:
    """Idempotently register the catalog-version streaming source."""
    _register_by_value(spark, CatalogStreamDataSource)
