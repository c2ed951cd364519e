"""Predicate-pushdown BATCH DataSource over the snapshot table layer:
``spark.read.format("snapshot_batch")`` with automatic manifest pruning.

Why this exists (VERDICT r6 next-round #1): the layer's file/segment
skipping used to fire only when the CALLER passed ``prune_range`` /
``prune_point`` to ``read_snapshot`` — a plain
``spark.sql("SELECT ... WHERE k = 5")`` over the temp-view façade
scanned every live file.  Delta/Iceberg derive skipping from the query's
own predicates; this connector is that path for the snapshot layer,
built on the engine's pluggable extension point (the Spark 4 Python
DataSource — the same ``pushFilters`` contract ``pyds.chunked_csv``
already exercises; a JVM deployment would express the identical planning
as a DSv2 ``SupportsPushDownFilters``):

- ``pushFilters`` receives the query's WHERE clauses and maps
  equality / range / IN predicates onto the manifest's TWO-LEVEL stats
  (segment-entry [min, max] envelopes first — untouched segments are
  never even opened — then per-file ranges) and onto the Bloom indexes
  (segment-level bit-set unions, then per-file bit lists) for point /
  IN probes on the layer's bloom column.  The decision is
  ``pruning.plan_files`` — the same planner ``snapshots.snapshot_files``
  runs.
- every pushed filter is returned as UNSUPPORTED, so Spark re-applies
  them row-level: manifest pruning is an optimization, never the
  correctness boundary (files that straddle a bound still contribute
  out-of-range rows that the engine filters).
- one ``InputPartition`` per surviving data file; rows are read ON THE
  EXECUTORS with pyarrow and returned as Arrow record batches (the
  vectorized transfer path), with the manifest's POSITION and EQUALITY
  delete entries applied per file — so the connector reads exactly what
  ``read_snapshot`` would, minus the pruned files.

Bloom probes need the SAME hash Spark computed at commit time
(``F.xxhash64(value_cast_to_string, seed_i)``).  The planning side of a
Python DataSource runs in a Python worker with no SparkSession, so this
module carries a pure-Python XXH64 whose bit-for-bit parity with Spark's
``xxhash64`` is PINNED BY TEST (``tests/test_sources.py``); if the two
ever drifted the probe would be wrong, so the test is a hard assert, and
probes run only for int/string values (where ``CAST(x AS STRING)`` is
reproducible in Python) — anything else conservatively skips bloom
pruning.

The planner reads manifest/segment JSON with ``pruning``'s plain file
IO (the runner has no JVM): correct for ``file://`` layers — the test
and single-node substrate; an object-store deployment would read
manifests through its native client there, exactly like
``pyds._SnapshotStreamReader``.

This connector is the zero-caller-cooperation SQL façade; the native
``read_snapshot`` parquet scan remains the bulk path when the caller can
pass its own pruning (JVM-side scan, no Arrow hop).

**Sharp edge (Spark 4.1, verified empirically and against the
decompiled classes): use ONE ``load()`` per query.**  The JVM keeps the
planned read in MUTABLE state on the relation's ``PythonDataSourceV2``
(``readInfo`` / ``getOrCreateReadInfo``): a query WITH pushable filters
re-plans (``PythonScanBuilder.pushFilters`` runs the pushdown worker
and ``setReadInfo`` overwrites), but a query WITHOUT any filter reuses
whatever partitions the LAST planning produced — so running
``df.where("k = 5").count()`` and then ``df.count()`` on the SAME
loaded ``df`` silently serves the second query from the first query's
pruned file set.  This affects every filter-pushdown Python DataSource
(``chunked_csv`` included), not just this one.  ``read_snapshot_pushdown``
below returns a fresh relation per call — use it (or a fresh
``spark.read...load()``) per query; the hazard is pinned by test so a
Spark fix will surface as an xpass.

No counterpart in the reference (ref publish.py overwrites one postgres
table); this is the §2.1 source surface composed with the table format.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    Filter,
    InputPartition,
)
from pyspark.sql import types as T

from .pruning import (
    _normalize_filters,
    _Pred,
    _record_schema,
    local_path,
    manifest_raw,
    plan_files,
    read_json,
    versions,
)

# ---------------------------------------------------------------------------
# Pure-Python XXH64, Spark-parity (xxHash64 spec; Spark's XXH64.java is a
# faithful port).  Only what the bloom probe needs: bytes + int lanes.
# ---------------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def _merge_round(h: int, acc: int) -> int:
    h ^= _round(0, acc)
    return (h * _P1 + _P4) & _M64


def _xxh64_bytes(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` — Spark's ``hashUnsafeBytesBlock`` for a UTF-8
    string column value."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (
            _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        ) & _M64
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    return _fmix(h)


def _xxh64_int(value: int, seed: int) -> int:
    """Spark ``XXH64.hashInt`` — an IntegerType lane (the bloom seed
    literal ``F.lit(i)``)."""
    h = (seed + _P5 + 4) & _M64
    h ^= ((value & 0xFFFFFFFF) * _P1) & _M64
    h = (_rotl(h, 23) * _P2 + _P3) & _M64
    return _fmix(h)


def bloom_probe_positions(value, *, m: int, k: int) -> list[int] | None:
    """The k bit positions Spark's commit-time bloom hashed ``value`` to
    — pure Python, for the no-JVM planning worker.  Returns None for
    value types whose ``CAST(x AS STRING)`` rendering is not reproduced
    here (probe conservatively skipped); int/str cover the key columns
    blooms are built for.  Parity with ``snapshots._bloom_positions``
    is pinned by test."""
    if isinstance(value, bool) or not isinstance(value, (int, str)):
        return None
    data = (str(value) if isinstance(value, int) else value).encode("utf-8")
    positions = []
    for i in range(k):
        h = _xxh64_int(i, _xxh64_bytes(data, 42))
        if h >= 1 << 63:  # Spark's hash is SIGNED 64-bit; pmod matches
            h -= 1 << 64
        positions.append(h % m)
    return positions


# ---------------------------------------------------------------------------
# No-JVM manifest planning (plain file IO; file:// substrate)
# ---------------------------------------------------------------------------


def bucket_transform_value(value, n: int) -> int | None:
    """The bucket a value hashes to under the layer's hidden-partition
    ``bucket(n, col)`` transform — pure Python, byte-parity with the
    commit side's ``pmod(xxhash64(CAST(x AS STRING)), n)`` through the
    same XXH64 the bloom probe pins (seed 42, signed 64-bit, pmod).
    None for value types whose string cast is not reproduced here
    (probe conservatively skipped)."""
    if isinstance(value, bool) or not isinstance(value, (int, str)):
        return None
    data = (str(value) if isinstance(value, int) else value).encode("utf-8")
    h = _xxh64_bytes(data, 42)
    if h >= 1 << 63:  # Spark's hash is SIGNED; Python % then matches pmod
        h -= 1 << 64
    return h % n


def _derive_partition_preds(m: dict, preds: list[_Pred]) -> list[_Pred]:
    """Map the query's predicates on SOURCE columns through the layer's
    recorded partition transforms onto the derived stat names — the
    hidden-partitioning planning step.  Only derivations that are
    provably safe fire; anything else contributes nothing (pruning is
    an optimization, never the correctness boundary):

    - ``bucket``: eq/IN only (a hash is not monotone), int/str values.
    - ``truncate``: monotone, so eq/IN map exactly and gt/gte -> gte /
      lt/lte -> lte on the truncated bound; int values floor to a
      multiple of w (Python % floors like Spark pmod), strings prefix.
    - ``day``: DATE values only — a timestamp day-string depends on the
      render timezone, and a wrong derived bound would wrongly SKIP
      (lossy), so timestamp probes conservatively skip.
    """
    import datetime

    out: list[_Pred] = []
    # PARTITION-SPEC EVOLUTION: probe EVERY spec the layer has written
    # under (``partition_specs_all``), not just the head's active one —
    # files written before an evolution carry only their own spec's
    # derived stats, so probing the historical stat names is what keeps
    # pruning sharp on the old region; a file lacking a probed stat is
    # conservatively kept (missing stats keep), so stale
    # specs are never wrong, and every derived pred independently
    # over-approximates the source predicate, so ANDing old- and
    # new-spec preds stays sound on every file
    for spec in m.get("partition_specs_all") or m.get("partition_spec") or []:
        t, src = spec["transform"], spec["source"]
        if t == "bucket":
            name = f"_pt_bucket_{int(spec['n'])}_{src}"
        elif t == "truncate":
            name = f"_pt_trunc_{int(spec['w'])}_{src}"
        else:
            name = f"_pt_day_{src}"
        for p in preds:
            if p.col != src:
                continue
            if t == "bucket":
                if p.op == "eq":
                    b = bucket_transform_value(p.value, int(spec["n"]))
                    if b is not None:
                        out.append(_Pred("eq", name, b))
                elif p.op == "in":
                    bs = [
                        bucket_transform_value(v, int(spec["n"]))
                        for v in p.value
                    ]
                    if all(b is not None for b in bs):
                        out.append(_Pred("in", name, sorted(set(bs))))
            elif t == "truncate":
                w = int(spec["w"])

                def trunc(v):
                    if isinstance(v, bool):
                        return None
                    if isinstance(v, int):
                        return v - (v % w)
                    if isinstance(v, str):
                        return v[:w]
                    return None

                if p.op in ("eq", "gt", "gte", "lt", "lte"):
                    tv = trunc(p.value)
                    if tv is None:
                        continue
                    op = {
                        "eq": "eq",
                        "gt": "gte",
                        "gte": "gte",
                        "lt": "lte",
                        "lte": "lte",
                    }[p.op]
                    out.append(_Pred(op, name, tv))
                elif p.op == "in":
                    tvs = [trunc(v) for v in p.value]
                    if all(v is not None for v in tvs):
                        out.append(_Pred("in", name, sorted(set(tvs))))
            else:  # day
                def day(v):
                    if isinstance(v, datetime.date) and not isinstance(
                        v, datetime.datetime
                    ):
                        return v.strftime("%Y-%m-%d")
                    return None

                if p.op in ("eq", "gt", "gte", "lt", "lte"):
                    dv = day(p.value)
                    if dv is None:
                        continue
                    op = {
                        "eq": "eq",
                        "gt": "gte",
                        "gte": "gte",
                        "lt": "lte",
                        "lte": "lte",
                    }[p.op]
                    out.append(_Pred(op, name, dv))
                elif p.op == "in":
                    dvs = [day(v) for v in p.value]
                    if all(v is not None for v in dvs):
                        out.append(_Pred("in", name, sorted(set(dvs))))
    return out


def _bloom_pos_lists(m: dict, preds: list[_Pred]) -> list[list[int]] | None:
    """Probe position lists for eq/IN predicates on the layer's bloom
    column — ANDed across predicates is wrong (a row satisfies ALL
    predicates, so ANY single predicate's definite-absence suffices);
    we return the FIRST usable predicate's per-value positions (one
    predicate is the overwhelmingly common shape).  None = no usable
    probe."""
    bloom_col = m.get("bloom_col")
    if not bloom_col:
        return None
    bm = int(m.get("bloom_m") or 8192)
    bk = int(m.get("bloom_k") or 4)
    for p in preds:
        if p.col != bloom_col or p.op not in ("eq", "in"):
            continue
        values = p.value if p.op == "in" else [p.value]
        pos_list = []
        ok = True
        for v in values:
            pos = bloom_probe_positions(v, m=bm, k=bk)
            if pos is None:
                ok = False
                break
            pos_list.append(pos)
        if ok and pos_list:
            return pos_list
    return None


def plan_snapshot_scan(
    path: str, version: int | None, preds: list[_Pred]
) -> dict:
    """Two-level manifest pruning, pure Python: returns
    {"files": [...], "delete_entries": [...], "schema": {...},
    "n_segments_total", "n_segments_read", "n_files_total"} for the
    pruned read.  The same ``pruning.plan_files`` planner as
    ``snapshots.snapshot_files``, over plain-IO segment reads."""
    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed snapshot under {path}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise FileNotFoundError(f"version {v} not in {vs} at {path}")
    m = manifest_raw(path, v)
    # hidden partitioning: predicates on source columns additionally
    # probe the derived transform stats (bucket/truncate/day)
    preds = list(preds) + _derive_partition_preds(m, preds)
    loaded: list[str] = []

    def load_segment(seg_path: str) -> dict:
        loaded.append(seg_path)
        return read_json(seg_path)

    files, _ = plan_files(m, preds, _bloom_pos_lists(m, preds), load_segment)
    entries = m.get("segments") or []
    return {
        "files": files,
        "delete_entries": m.get("delete_files") or [],
        "schema": m.get("schema") or {},
        "n_segments_total": len(entries),
        "n_segments_read": len(loaded),
        "n_files_total": sum(int(e.get("n_files") or 0) for e in entries),
    }


# ---------------------------------------------------------------------------
# The DataSource
# ---------------------------------------------------------------------------

_SPARK_TO_ARROW_DDL = {
    "bigint": "int64",
    "int": "int32",
    "smallint": "int16",
    "tinyint": "int8",
    "double": "float64",
    "float": "float32",
    "string": "string",
    "boolean": "bool_",
    "date": "date32",
}


def _arrow_schema(schema_rec: dict, cols: list[str]):
    import pyarrow as pa

    fields = []
    for f in _record_schema(schema_rec, cols):
        c, s = f.name, f.dataType.simpleString()
        if s in _SPARK_TO_ARROW_DDL:
            fields.append(pa.field(c, getattr(pa, _SPARK_TO_ARROW_DDL[s])()))
        elif s.startswith("timestamp"):
            fields.append(pa.field(c, pa.timestamp("us")))
        elif s.startswith("decimal"):
            prec, scale = s[s.index("(") + 1 : -1].split(",")
            fields.append(pa.field(c, pa.decimal128(int(prec), int(scale))))
        else:
            raise ValueError(
                f"snapshot_batch: unsupported column type {s!r} for {c!r}"
            )
    return pa.schema(fields)


@dataclass
class _SnapFilePartition(InputPartition):
    file: str | None
    pos_dirs: tuple  # position-delete dirs touching this file
    eq_entries: tuple  # ((keys_path, key_col), ...) touching this file
    cols: tuple
    schema_rec_json: str


class _SnapshotBatchReader(DataSourceReader):
    def __init__(self, options: dict, schema: T.StructType):
        self._path = options["path"]
        self._version = (
            int(options["version"]) if options.get("version") else None
        )
        if options.get("as_of"):
            self._version = _version_as_of(
                self._path, float(options["as_of"])
            )
        self._plan_log = options.get("plan_log")
        self._cols = tuple(f.name for f in schema.fields)
        self._preds: list[_Pred] = []

    def pushFilters(self, filters: list[Filter]):
        self._preds = _normalize_filters(filters)
        # claim NOTHING: Spark re-applies every filter row-level, so
        # file-granular manifest pruning can never drop matching rows
        return filters

    def partitions(self):
        plan = plan_snapshot_scan(self._path, self._version, self._preds)
        if self._plan_log:
            with open(local_path(self._plan_log), "w") as fh:
                json.dump(
                    {
                        "n_files_planned": len(plan["files"]),
                        "n_files_total": plan["n_files_total"],
                        "n_segments_read": plan["n_segments_read"],
                        "n_segments_total": plan["n_segments_total"],
                    },
                    fh,
                )
        schema_rec_json = json.dumps(plan["schema"])
        if not plan["files"]:
            return [
                _SnapFilePartition(
                    None, (), (), self._cols, schema_rec_json
                )
            ]
        parts = []
        for f in plan["files"]:
            base = f.rsplit("/", 1)[-1]
            pos_dirs = []
            eq_entries = []
            for e in plan["delete_entries"]:
                if e.get("kind") == "equality":
                    if base in e["touches"]:
                        eq_entries.append((e["path"], e["key_col"]))
                elif base in e["touches"]:
                    pos_dirs.append(e["path"])
            parts.append(
                _SnapFilePartition(
                    f,
                    tuple(pos_dirs),
                    tuple(eq_entries),
                    self._cols,
                    schema_rec_json,
                )
            )
        return parts

    def read(self, partition: _SnapFilePartition) -> Iterator:
        # executor-side: one parquet file -> delete-applied Arrow batches
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if partition.file is None:
            return
        base = partition.file.rsplit("/", 1)[-1]
        # COLUMN-PRUNED read: the projection plus any equality-delete
        # key column the filter step needs (dropped again by the final
        # select) — at 100 TB reading 2 of 40 columns is the difference
        # between a projection and a table scan
        file_cols = set(pq.read_schema(local_path(partition.file)).names)
        need = [c for c in partition.cols if c in file_cols]
        for _, key_col in partition.eq_entries:
            if key_col not in need and key_col in file_cols:
                need.append(key_col)
        table = pq.read_table(local_path(partition.file), columns=need)
        if partition.pos_dirs:
            dead: set[int] = set()
            for d in partition.pos_dirs:
                dv = pq.read_table(
                    local_path(d), columns=["file", "pos"]
                ).filter(pc.equal(pc.field("file"), base))
                dead.update(dv.column("pos").to_pylist())
            if dead:
                # vectorized mask — a per-row Python loop here would put
                # O(rows) interpreter work on the executor hot path
                import numpy as np

                mask = np.ones(table.num_rows, dtype=bool)
                mask[np.fromiter(dead, dtype=np.int64)] = False
                table = table.filter(pa.array(mask))
        for kpath, key_col in partition.eq_entries:
            if key_col not in table.column_names:
                # an evolved carried file lacking the key column reads
                # NULL for it — NULL never equals a key, nothing to drop
                continue
            keys = pq.read_table(local_path(kpath), columns=[key_col]).column(
                key_col
            )
            hit = pc.fill_null(
                pc.is_in(table.column(key_col), value_set=keys), False
            )
            table = table.filter(pc.invert(hit))
        target = _arrow_schema(
            json.loads(partition.schema_rec_json), list(partition.cols)
        )
        # evolved layers: a carried file may lack newer columns — read
        # NULL for them, as read_snapshot's projection onto the recorded
        # schema does
        arrays = []
        for i, c in enumerate(partition.cols):
            if c in table.column_names:
                arrays.append(table.column(c))
            else:
                arrays.append(pa.nulls(table.num_rows, target.field(i).type))
        table = pa.table(arrays, names=list(partition.cols)).cast(target)
        yield from table.to_batches(max_chunksize=1 << 16)


def _version_as_of(path: str, ts_epoch: float) -> int:
    eligible = [
        v
        for v in versions(path)
        if float(manifest_raw(path, v).get("committed_at") or 0) <= ts_epoch
    ]
    if not eligible:
        raise FileNotFoundError(
            f"no version at or before epoch {ts_epoch} survives at {path}"
        )
    return eligible[-1]


class SnapshotBatchDataSource(DataSource):
    """``spark.read.format("snapshot_batch")`` over a snapshot layer.

    Options: ``path`` (layer root, required), ``version`` (int,
    optional — default head), ``as_of`` (epoch seconds, optional),
    ``plan_log`` (path; planning writes pruning counters there — the
    observability hook the counter-pinned tests read).
    """

    @classmethod
    def name(cls) -> str:
        return "snapshot_batch"

    def schema(self):
        path = self.options["path"]
        vs = versions(path)
        if not vs:
            raise FileNotFoundError(f"no committed snapshot under {path}")
        v = (
            int(self.options["version"])
            if self.options.get("version")
            else vs[-1]
        )
        rec = manifest_raw(path, v).get("schema") or {}
        if self.options.get("cols"):
            # caller-side PROJECTION: only these columns plan, transfer
            # and read (the Python DataSource API has no pruning hook,
            # so the projection rides the schema)
            want = self.options["cols"].split(",")
            missing = [c for c in want if c not in rec]
            if missing:
                raise ValueError(
                    f"snapshot_batch cols {missing} not in layer schema "
                    f"{sorted(rec)}"
                )
            return _record_schema(rec, want)
        return _record_schema(rec)

    def reader(self, schema: T.StructType) -> DataSourceReader:
        return _SnapshotBatchReader(dict(self.options), schema)


def register_snapshot_batch(spark) -> None:
    """Idempotently register the pushdown batch connector."""
    import sys

    from pyspark import cloudpickle

    from ..session import ensure_package_on_workers
    from . import pruning

    # planning runs in a driver-side Python worker that never sees
    # addPyFile — pickle this module and the pruning core it plans with
    # by value so the class arrives self-contained (pyarrow + stdlib
    # only), same as the stream sources
    for mod in (sys.modules[__name__], pruning):
        cloudpickle.register_pickle_by_value(mod)
    ensure_package_on_workers(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SnapshotBatchDataSource)


def read_snapshot_pushdown(
    spark,
    path: str,
    *,
    version: int | None = None,
    as_of: float | None = None,
    cols: list[str] | None = None,
    plan_log: str | None = None,
):
    """A FRESH pushdown-planned DataFrame over the layer — one relation
    per call, which is the safe usage unit for a filter-pushdown Python
    DataSource (see the module docstring's sharp edge: reusing one
    loaded relation across queries with and without filters can serve
    the filterless query from a stale pruned plan).  Registers the
    connector idempotently.

    The head version is resolved HERE and pinned as an explicit option:
    schema inference and scan planning run in separate Python workers
    at different times, so an unpinned head could resolve differently
    between them if a writer commits in between — the torn read
    ``read_snapshot`` pins against, pinned the same way."""
    register_snapshot_batch(spark)
    if version is None and as_of is None:
        vs = versions(path)
        if not vs:
            raise FileNotFoundError(f"no committed snapshot under {path}")
        version = vs[-1]
    r = spark.read.format("snapshot_batch").option("path", path)
    if version is not None:
        r = r.option("version", str(version))
    if as_of is not None:
        r = r.option("as_of", str(as_of))
    if cols is not None:
        r = r.option("cols", ",".join(cols))
    if plan_log is not None:
        r = r.option("plan_log", plan_log)
    return r.load()
