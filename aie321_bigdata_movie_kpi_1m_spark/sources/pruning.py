"""Manifest pruning: the one answer to "can this file hold a matching
row?" for every planner over the repo's file manifests.

Three planners prune files before any task launches:
``snapshots.snapshot_files`` (the snapshot layer's native read path),
``snapshot_batch.plan_snapshot_scan`` (the pushdown DataSource over the
same layer) and the ``chunked_csv`` reader in ``pyds``.  All of them
decide with the functions here, under one rule set:

- a file/segment with no recorded stats for a column is KEPT (nothing
  proves it cannot match);
- recorded ``[None, None]`` stats (zero rows, or every value NULL) are
  SKIPPED — every pushed predicate is NULL-rejecting;
- a bound the recorded stats cannot be ordered against (an int bound
  over string stats, a date bound over a migrated string stat) is KEPT.

Pruning is an optimization, never a filter: callers re-apply their
predicates row-level, so every rule above errs towards keeping.

This module is pure Python — no SparkSession, no JVM — because the
Python DataSource planners run in worker processes that have neither.
The same reason gives it plain-IO manifest readers for ``file://``
layers; the JVM side reads through ``snapshots._read_json_cached``
(Hadoop FS, signature-cached) and passes its own segment loader to
``plan_files``.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Callable, Iterable

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    LessThan,
    LessThanOrEqual,
)

MANIFEST_DIR = "_manifests"
#: the one manifest layout every writer records and every reader accepts:
#: per-file maps in segment files, one summary entry per segment
MANIFEST_FORMAT = 2


# ---------------------------------------------------------------------------
# Plain-IO manifest readers (file:// substrate)
# ---------------------------------------------------------------------------


def local_path(p: str) -> str:
    return p.removeprefix("file:")


def read_json(p: str) -> dict:
    with open(local_path(p)) as fh:
        return json.load(fh)


def versions(root: str, sub: str = MANIFEST_DIR) -> list[int]:
    """Committed versions under ``root/sub`` (``v<N>.json`` files),
    ascending; [] when the directory does not exist yet."""
    d = os.path.join(local_path(root), sub)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(n[1:-5])
        for n in os.listdir(d)
        if n.startswith("v") and n.endswith(".json")
    )


def checked_manifest(m: dict, path: str) -> dict:
    """``m``, parsed from ``path``, if it is a segmented manifest.  Any
    other format raises ``ValueError``: such a manifest has no
    ``segments``, so reading past it would return an empty table."""
    if m.get("format") != MANIFEST_FORMAT:
        raise ValueError(
            f"{path}: manifest format {m.get('format')!r} is not supported "
            f"(only format {MANIFEST_FORMAT}, segmented manifests, is read)"
        )
    return m


def manifest_raw(root: str, v: int) -> dict:
    """Version ``v``'s manifest exactly as written (segment maps are not
    loaded)."""
    p = os.path.join(local_path(root), MANIFEST_DIR, f"v{v}.json")
    return checked_manifest(read_json(p), p)


def _record_schema(
    rec: dict | None, cols: Iterable[str] | None = None
) -> T.StructType:
    """The StructType a manifest's ``schema`` record (column name ->
    ``DataType.json()``) describes, in record order, or the ``cols``
    projection of it in that order."""
    rec = rec or {}
    return T.StructType(
        [
            T.StructField(c, T._parse_datatype_json_string(rec[c]))
            for c in (rec if cols is None else cols)
        ]
    )


# ---------------------------------------------------------------------------
# Predicates and the range test
# ---------------------------------------------------------------------------


@dataclass
class _Pred:
    """One pushed predicate, normalized: ``op`` in {eq, gt, gte, lt,
    lte, in}, over top-level column ``col``."""

    op: str
    col: str
    value: object


_FILTER_OPS = {
    EqualTo: "eq",
    GreaterThan: "gt",
    GreaterThanOrEqual: "gte",
    LessThan: "lt",
    LessThanOrEqual: "lte",
}


def _normalize_filters(filters: list[Filter]) -> list[_Pred]:
    """The prunable subset of Spark's pushed filters; anything else
    (OR, NOT, nested columns, null tests) contributes nothing."""
    out = []
    for f in filters:
        if len(f.attribute) != 1:
            continue
        if type(f) in _FILTER_OPS:
            out.append(_Pred(_FILTER_OPS[type(f)], f.attribute[0], f.value))
        elif isinstance(f, In):
            out.append(_Pred("in", f.attribute[0], list(f.value)))
    return out


def range_preds(col: str, lo, hi) -> list[_Pred]:
    """``lo <= col <= hi`` as preds; a None bound is open."""
    return [
        _Pred(op, col, v)
        for op, v in (("gte", lo), ("lte", hi))
        if v is not None
    ]


def range_keeps(stats, pred: _Pred) -> bool:
    """May rows of a file/segment with ``stats`` = [min, max] satisfy
    ``pred``?  The module docstring's rule set: missing keeps,
    ``[None, None]`` skips, unorderable keeps."""
    if stats is None:
        return True
    mn, mx = stats[0], stats[1]
    if mn is None or mx is None:
        return False
    try:
        if pred.op == "eq":
            return mn <= pred.value <= mx
        if pred.op == "gt":
            return mx > pred.value
        if pred.op == "gte":
            return mx >= pred.value
        if pred.op == "lt":
            return mn < pred.value
        if pred.op == "lte":
            return mn <= pred.value
        if pred.op == "in":
            return any(mn <= v <= mx for v in pred.value)
    except TypeError:
        return True
    return True


def stats_keep(stats: dict, preds: list[_Pred]) -> bool:
    """``range_keeps`` for every pred against a per-column stats map."""
    return all(range_keeps(stats.get(p.col), p) for p in preds)


def fold_minmax(stats: Iterable) -> list:
    """[min, max] over recorded [lo, hi] stats, skipping ``[None, None]``
    (empty / all-NULL) entries; ``[None, None]`` when every entry is."""
    lo = hi = None
    for s in stats:
        if s[0] is None or s[1] is None:
            continue
        lo = s[0] if lo is None or s[0] < lo else lo
        hi = s[1] if hi is None or s[1] > hi else hi
    return [lo, hi]


# ---------------------------------------------------------------------------
# Bloom bitmaps
# ---------------------------------------------------------------------------


def bits_to_hex(bits) -> str:
    """Sorted bit-position list -> hex bitmap, sized to the highest set
    bit (a probe position beyond the bitmap reads 0 = definitely absent,
    so the encoding needs no knowledge of the bloom's m)."""
    if not bits:
        return ""
    arr = bytearray(max(bits) // 8 + 1)
    for b in bits:
        arr[b // 8] |= 1 << (b % 8)
    return bytes(arr).hex()


def hex_has_bits(hx: str, positions: list[int]) -> bool:
    """True iff every probe position is set in the hex bitmap."""
    arr = bytes.fromhex(hx) if hx else b""
    for p in positions:
        if p // 8 >= len(arr) or not (arr[p // 8] >> (p % 8)) & 1:
            return False
    return True


# ---------------------------------------------------------------------------
# The two-level planner
# ---------------------------------------------------------------------------


def plan_files(
    m: dict,
    preds: list[_Pred],
    pos_list: list[list[int]] | None,
    load_segment: Callable[[str], dict],
) -> tuple[list[str], dict]:
    """The files of manifest ``m`` that may hold a row satisfying every
    pred, and the per-file bloom map of what was loaded.

    Segment entries are pruned first — the entry's aggregated [min,
    max], then its Bloom union — so a skipped segment is never loaded
    (``load_segment`` runs once per survivor); then each surviving file
    is tested on its own ranges and Bloom bits.  ``pos_list`` holds one
    bit-position list per probe value (an IN list keeps a file if ANY
    value may be present); None disables Bloom pruning.  Files and
    segments without a Bloom are kept."""
    files: list[str] = []
    stats: dict = {}
    blooms: dict = {}
    for e in m.get("segments") or []:
        if not stats_keep(e.get("stats") or {}, preds):
            continue
        union = e.get("bloom_union")
        if (
            pos_list is not None
            and union is not None
            and not any(hex_has_bits(union, pos) for pos in pos_list)
        ):
            continue
        seg = load_segment(e["path"])
        files.extend(seg["files"])
        stats.update(seg.get("stats") or {})
        blooms.update(seg.get("blooms") or {})
    files.sort()
    kept = []
    for f in files:
        base = f.rsplit("/", 1)[-1]
        if not stats_keep(stats.get(base, {}), preds):
            continue
        bits = blooms.get(base) if pos_list is not None else None
        if bits is not None:
            bitset = set(bits)
            if not any(all(p in bitset for p in pos) for pos in pos_list):
                continue
        kept.append(f)
    return kept, blooms
