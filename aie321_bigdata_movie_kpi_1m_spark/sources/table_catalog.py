"""Versioned TABLE CATALOG over snapshot layers: multi-table ATOMIC
commits and cross-table consistent reads.

A single snapshot layer already gives atomic per-table commits; real
warehouses need the next level up — "load the fact AND its dimensions,
then publish both at once, so no reader ever joins new facts against old
dims."  Iceberg solves it with REST-catalog transactions; Delta punts
(per-table only).  This module is that catalog:

- the catalog is itself a tiny versioned manifest dir
  (``_catalog/v{N}.json``) whose entries PIN a (layer path, layer
  version) per table name — the same stage-then-rename, no-overwrite
  commit point as the layers (``_write_text``), so catalog swaps are
  atomic and optimistically concurrent;
- ``multi_table_commit`` stages each table's data as a NORMAL layer
  commit first (durable, but invisible THROUGH THE CATALOG), then swaps
  one catalog version pinning all the new layer versions — readers that
  resolve through the catalog see all of the transaction or none of it;
- losers of the catalog-swap race RETRY BY RE-BASING: re-read the new
  head, re-apply only their own table entries, swap again — two writers
  touching disjoint tables both land, exactly like layer-level OCC;
- ``read_catalog_table(catalog_version=...)`` time-travels the WHOLE
  star consistently: version N of the catalog names the exact layer
  version of every table at that instant, which is what "reproduce the
  corpus that trained this checkpoint" needs across tables.

Scale note: the catalog JSON is O(tables) bytes; resolving a read costs
one small file read on top of the layer's own manifest resolution.
Readers that bypass the catalog and open a layer directly see that
layer's own newest commit (documented, same as reading Iceberg table
metadata behind the catalog's back).

No counterpart in the reference (one postgres table, publish.py:102-167);
this composes SURVEY §2.9's snapshot layer into the multi-table story.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .snapshots import (
    _hpath,
    _fs,
    _read_text,
    _write_text,
    commit_snapshot,
    read_snapshot,
    retry_commit,
)

_CATALOG_DIR = "_catalog"


def catalog_versions(spark: SparkSession, cat_path: str) -> list[int]:
    """Committed catalog versions, ascending (directory listing of the
    tiny ``_catalog`` dir — O(versions), metadata only)."""
    jvm, fs = _fs(spark, cat_path)
    d = _hpath(jvm, f"{cat_path}/{_CATALOG_DIR}")
    if not fs.exists(d):
        return []
    out = []
    for status in fs.listStatus(d):
        name = status.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                pass
    return sorted(out)


def _catalog_manifest(spark: SparkSession, cat_path: str, v: int) -> dict:
    return json.loads(
        _read_text(spark, f"{cat_path}/{_CATALOG_DIR}/v{v}.json")
    )


def catalog_tables(
    spark: SparkSession, cat_path: str, version: int | None = None
) -> dict:
    """{table -> {"path", "version"}} pinned by one catalog version
    (default: the head)."""
    versions = catalog_versions(spark, cat_path)
    if not versions:
        raise FileNotFoundError(f"no committed catalog under {cat_path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(f"catalog version {v} not in {versions}")
    return _catalog_manifest(spark, cat_path, v)["tables"]


def commit_catalog(
    spark: SparkSession,
    cat_path: str,
    tables: dict,
    *,
    expect_version: int | None = None,
) -> int:
    """Commit a FULL table map as the next catalog version.  The write
    is the same no-overwrite rename as a layer manifest, so two racing
    swaps conflict cleanly (``FileExistsError`` — retry with
    ``retry_commit``); ``expect_version`` turns the swap into a
    compare-and-swap for check-then-act callers."""
    versions = catalog_versions(spark, cat_path)
    version = (versions[-1] if versions else 0) + 1
    if expect_version is not None and expect_version != version:
        raise FileExistsError(
            f"concurrent catalog commit: expected v{expect_version} "
            f"at {cat_path} but the head is v{version - 1}"
        )
    _write_text(
        spark,
        f"{cat_path}/{_CATALOG_DIR}/v{version}.json",
        json.dumps(
            {
                "version": version,
                "committed_at": time.time(),
                "tables": {
                    name: {"path": str(t["path"]), "version": int(t["version"])}
                    for name, t in tables.items()
                },
            },
            default=str,
        ),
    )
    return version


def multi_table_commit(
    spark: SparkSession,
    cat_path: str,
    writes: list[tuple[str, DataFrame, str, dict]],
    *,
    attempts: int = 5,
) -> int:
    """ATOMIC multi-table transaction: stage every table's data as a
    normal layer commit (``writes`` = [(table, df, layer_path,
    commit_snapshot kwargs)]), then swap ONE catalog version pinning all
    the new layer versions.

    Catalog readers see all of the transaction or none of it: a crash
    after some layer commits but before the swap leaves the catalog
    pointing at the old versions everywhere (the staged layer versions
    are durable-but-unreferenced — exactly an aborted transaction's
    garbage, reclaimable by each layer's own vacuum retention).

    The swap retries by REBASING: a loser re-reads the winner's head
    map and re-applies only its own table entries, so concurrent
    transactions over disjoint tables all land; transactions racing on
    the SAME table serialize by catalog version with last-swap-wins on
    the pointer (both layer versions exist; the catalog history records
    which one each catalog version pinned).

    The STAGING commits retry too: two transactions racing on the same
    MEMBER LAYER can lose the layer-level OCC race (``FileExistsError``
    from ``commit_snapshot``'s manifest rename), and a loser simply
    re-commits against the new layer head — appends/overwrites are
    order-independent at the layer level (the catalog swap decides
    which version readers see), and writers that pass ``txn`` markers
    make the retry idempotent even if the first attempt actually
    landed.  Returns the catalog version."""
    staged: dict = {}
    for table, df, layer_path, kwargs in writes:
        v = retry_commit(
            lambda df=df, layer_path=layer_path, kwargs=kwargs: (
                commit_snapshot(spark, df, layer_path, **(kwargs or {}))
            ),
            attempts=attempts,
        )
        staged[table] = {"path": layer_path, "version": v}

    def swap() -> int:
        versions = catalog_versions(spark, cat_path)
        head = versions[-1] if versions else 0
        base = (
            _catalog_manifest(spark, cat_path, head)["tables"]
            if head
            else {}
        )
        if head and all(
            base.get(t) == {"path": staged[t]["path"], "version": int(staged[t]["version"])}
            for t in staged
        ):
            # pins unchanged: a REPLAYED transaction (the layer commits
            # no-op'd on their txn markers and returned the already-
            # pinned versions) — swap nothing, no catalog version churn
            return head
        # CAS on the version: the rebased map is only valid against the
        # head it was read from — a concurrent swap landing in between
        # must conflict (retry re-bases), or its table entries would be
        # silently overwritten with our stale base (lost update).  The
        # residual window between commit_catalog's own head read and the
        # rename is closed by the no-overwrite manifest write itself.
        return commit_catalog(
            spark, cat_path, {**base, **staged}, expect_version=head + 1
        )

    return retry_commit(swap, attempts=attempts)


def read_catalog_table(
    spark: SparkSession,
    cat_path: str,
    table: str,
    *,
    catalog_version: int | None = None,
    **read_kwargs,
) -> DataFrame:
    """Read one table THROUGH the catalog: the catalog version (default
    head) pins the exact layer version, so reads of several tables at
    the same ``catalog_version`` are cross-table consistent — version N
    of the catalog is a snapshot of the whole schema."""
    tables = catalog_tables(spark, cat_path, catalog_version)
    if table not in tables:
        raise KeyError(
            f"table {table!r} not in catalog {sorted(tables)} at {cat_path}"
        )
    t = tables[table]
    return read_snapshot(
        spark, t["path"], int(t["version"]), **read_kwargs
    )


def catalog_history(spark: SparkSession, cat_path: str) -> DataFrame:
    """One audit row per catalog version: (catalog_version, table,
    layer_version) — which exact layer version every table pinned at
    every instant, the cross-table reproducibility record."""
    rows = []
    for v in catalog_versions(spark, cat_path):
        m = _catalog_manifest(spark, cat_path, v)
        for name, t in sorted(m["tables"].items()):
            rows.append((v, name, int(t["version"])))
    return spark.createDataFrame(
        rows, "catalog_version long, table string, layer_version long"
    )


def vacuum_catalog(
    spark: SparkSession, cat_path: str, *, keep_last: int = 2
) -> dict:
    """Catalog retention: drop all but the newest ``keep_last`` catalog
    versions (tiny JSON files).  Returns the dropped versions plus the
    MINIMUM still-pinned layer version per LAYER PATH — the figure each
    member layer's own ``vacuum_snapshots`` retention must respect:
    a layer vacuum that drops a version an older SURVIVING catalog
    version still pins would break that catalog version's reads, so
    size the layer's ``keep_last`` from ``min_pinned`` (or run layer
    vacuums only after catalog retention has retired the old pins —
    the coherence rule Iceberg's catalog-driven GC enforces).

    ``min_pinned`` is keyed by layer PATH, not table name: a repointed
    table (same name pinned at two different layer paths across the
    surviving catalog versions) pins BOTH paths, and a name-keyed map
    would let one path's entry silently overwrite the other — exactly
    the version a layer vacuum would then wrongly reclaim.  Each entry
    carries the table names that pin the path."""
    versions = catalog_versions(spark, cat_path)
    keep = versions[-keep_last:] if keep_last > 0 else []
    dropped = [v for v in versions if v not in keep]
    jvm, fs = _fs(spark, cat_path)
    for v in dropped:
        fs.delete(_hpath(jvm, f"{cat_path}/{_CATALOG_DIR}/v{v}.json"), False)
    min_pinned: dict = {}
    tables_for: dict = {}
    for v in keep:
        for name, t in _catalog_manifest(spark, cat_path, v)["tables"].items():
            lv = int(t["version"])
            key = str(t["path"])
            if key not in min_pinned or lv < min_pinned[key]:
                min_pinned[key] = lv
            tables_for.setdefault(key, set()).add(name)
    return {
        "dropped_versions": dropped,
        "min_pinned": {
            path: {"tables": sorted(tables_for[path]), "version": v}
            for path, v in sorted(min_pinned.items())
        },
    }


def catalog_maintenance_plan(
    spark: SparkSession,
    cat_path: str,
    *,
    target_rows_per_file: int,
    small_file_rows: int | None = None,
    overlap_threshold: float = 0.5,
    catalog_version: int | None = None,
) -> DataFrame:
    """CATALOG-WIDE maintenance sweep (r9 verdict item 7): one call
    plans EVERY table the catalog version pins, running the
    metadata-only layer advisor (``snapshots.snapshot_maintenance_plan``)
    per pinned layer path and prefixing each row with the table name —
    the "describe detail across the whole star" view a production
    maintenance scheduler iterates.

    Each layer is planned at ITS OWN HEAD: maintenance targets the live
    layer, while the pinned history stays readable because the acting
    job sizes each layer's vacuum from ``vacuum_catalog``'s per-path
    ``min_pinned`` floors (the coherence rule documented there) — the
    advisor never recommends dropping a version a surviving catalog
    version still pins (its ``vacuum`` rows count files, the layer
    vacuum enforces the floor).  A table repointed across paths in
    history is planned at the path THIS catalog version pins.  Cost:
    O(sum of member layers' manifest JSON) — still zero data files.

    Returns one DataFrame: (table_name, action, col, n_files, n_rows,
    predicted_files, overlap_files), ordered by (table_name, action).
    Tables whose layers need nothing contribute no rows.

    The per-layer advisor is pure manifest-JSON arithmetic
    (``snapshots._maintenance_plan_rows``), so the whole sweep builds
    ONE local relation — no per-layer DataFrame construction, no
    union chain, no sort shuffle: a metadata-only plan over N tables
    costs N manifest reads plus one local-relation collect (the r11
    verdict's 4s-warm-sweep fix)."""
    from .snapshots import _maintenance_plan_rows

    tables = catalog_tables(spark, cat_path, catalog_version)
    rows = [
        (name, *r)
        for name in sorted(tables)
        for r in _maintenance_plan_rows(
            spark,
            str(tables[name]["path"]),
            target_rows_per_file=target_rows_per_file,
            small_file_rows=small_file_rows,
            overlap_threshold=overlap_threshold,
        )
    ]
    rows.sort(key=lambda r: (r[0], r[1], r[2] or ""))
    return spark.createDataFrame(
        rows,
        "table_name string, action string, col string, n_files long, "
        "n_rows long, predicted_files long, overlap_files long",
    )


# ---------------------------------------------------------------------------
# WRITE-AUDIT-PUBLISH: catalog-level branching
# ---------------------------------------------------------------------------
#
# The Iceberg WAP / Nessie / LakeFS pattern, composed from primitives the
# repo already trusts: a BRANCH is a zero-copy SHALLOW CLONE of the exact
# (layer path, version) the catalog currently pins for a table, so EVERY
# existing mutator — append, copy-on-write MERGE, merge-on-read DELETE,
# compaction, CDF — works on the branch unchanged and in isolation; the
# PUBLISH is one compare-and-swap catalog repoint, so readers resolving
# through the catalog flip from the old state to the audited branch head
# atomically, or keep the old state forever if the audit fails.  Bad data
# can land on the branch (that is the point of WAP — the audit gates the
# PUBLISH, not the write), and a crashed/abandoned branch is invisible
# garbage reclaimed by its own vacuum.

_WAP_FILE = "WAP.json"


def wap_branch(
    spark: SparkSession,
    cat_path: str,
    table: str,
    branch_path: str,
    *,
    audit_id: str | None = None,
) -> dict:
    """WRITE-AUDIT-PUBLISH stage 1: fork ``table``'s CURRENT published
    state into an isolated branch layer at ``branch_path`` — a
    zero-copy shallow clone of the exact (path, version) the catalog
    head pins, plus a provenance record (``WAP.json``: source pin +
    catalog version + audit_id) that ``wap_publish`` later validates.

    The branch evolves with the FULL layer API (append / MERGE /
    DELETE / compaction / time travel), none of it visible through the
    catalog until the publish swap.  Zero bytes copied at fork time,
    however large the table.  The fork also writes a BACK-REFERENCE PIN
    on the source layer (``pin_snapshot_version``): the branch references
    the source version's data files in place — forever, if published —
    so the source's vacuum keeps that version alive and its drop refuses
    while the pin exists.  Retiring a branch should release the pin
    (``wap_retire_branch``).  Returns the provenance record."""
    from .snapshots import clone_snapshot, pin_snapshot_version

    tables = catalog_tables(spark, cat_path)
    if table not in tables:
        raise KeyError(
            f"table {table!r} not in catalog {sorted(tables)} at {cat_path}"
        )
    t = tables[table]
    cat_v = catalog_versions(spark, cat_path)[-1]
    clone_snapshot(
        spark, str(t["path"]), branch_path, version=int(t["version"])
    )
    # back-reference: the branch references the source version's files in
    # place (permanently, once published) — record the dependency where
    # the source's vacuum/drop will consult it (ADVICE r13)
    pin_snapshot_version(
        spark, str(t["path"]), int(t["version"]), ref=branch_path
    )
    record = {
        "table": table,
        "catalog": str(cat_path),
        "source_path": str(t["path"]),
        "source_version": int(t["version"]),
        "catalog_version": int(cat_v),
        "audit_id": audit_id,
        "created_at": time.time(),
    }
    # written AFTER the clone: a crash in between leaves a clone with no
    # provenance, which wap_publish refuses — safe, vacuumable garbage
    _write_text(spark, f"{branch_path}/{_WAP_FILE}", json.dumps(record))
    return record


def wap_provenance(spark: SparkSession, branch_path: str) -> dict:
    """The branch's provenance record, or a loud error for a layer that
    was never forked by ``wap_branch`` (publishing an arbitrary layer
    over a table would bypass the lost-update guard)."""
    jvm, fs = _fs(spark, branch_path)
    p = _hpath(jvm, f"{branch_path}/{_WAP_FILE}")
    if not fs.exists(p):
        raise FileNotFoundError(
            f"{branch_path} has no {_WAP_FILE} — not a WAP branch "
            "(fork with wap_branch; publishing arbitrary layers would "
            "bypass the stale-source guard)"
        )
    return json.loads(_read_text(spark, f"{branch_path}/{_WAP_FILE}"))


def wap_retire_branch(
    spark: SparkSession, cat_path: str, branch_path: str
) -> None:
    """Retire an UNPUBLISHED (abandoned or audit-failed) branch: release
    its back-reference pin on the source layer, then delete the branch
    directory.  Refuses loudly when the catalog currently pins the
    branch — a published branch IS the table now, and its source pin is
    a permanent dependency (rewrite/compact the branch to own its files
    before retiring the source)."""
    from .snapshots import drop_snapshot_layer, unpin_snapshot_version

    rec = wap_provenance(spark, branch_path)
    t = catalog_tables(spark, cat_path).get(str(rec["table"]))
    if t is not None and str(t["path"]) == str(branch_path):
        raise RuntimeError(
            f"retire refused: catalog pins {branch_path} as table "
            f"{rec['table']!r} — this branch is published, deleting it "
            "deletes the table"
        )
    unpin_snapshot_version(spark, str(rec["source_path"]), ref=branch_path)
    drop_snapshot_layer(spark, branch_path)


def wap_audit(
    spark: SparkSession,
    branch_path: str,
    checks: dict[str, str],
    *,
    version: int | None = None,
) -> dict:
    """WRITE-AUDIT-PUBLISH stage 2: evaluate audit predicates over the
    branch HEAD (merge-on-read aware — deletes staged on the branch are
    applied, exactly what readers would see post-publish) in ONE
    aggregate scan.  Returns {check name -> violation row count}; SQL
    CHECK semantics (a NULL predicate result is not a violation).

    ``version`` pins the audit to an exact branch version — the publish
    path uses it to close the audit→publish TOCTOU window (a commit
    landing on the branch between the audit scan and the version listing
    must not get published unaudited).

    Unlike commit-time CHECK constraints (which REJECT the delta before
    it lands), the audit runs over data that already landed on the
    branch — WAP's contract is that bad data may be written and
    examined, it just never reaches readers."""
    if not checks:
        return {}
    head = read_snapshot(spark, branch_path, version=version)
    aggs = [
        F.sum(F.when(~F.expr(pred), 1).otherwise(0)).alias(name)
        for name, pred in checks.items()
    ]
    row = head.agg(*aggs).first()
    return {name: int(row[name] or 0) for name in checks}


def wap_publish(
    spark: SparkSession,
    cat_path: str,
    branch_path: str,
    *,
    checks: dict[str, str] | None = None,
    expect_unchanged: bool = True,
    attempts: int = 5,
) -> int:
    """WRITE-AUDIT-PUBLISH stage 3: atomically repoint the table at the
    audited branch head.

    - ``checks`` (optional) run as ``wap_audit`` first; ANY violation
      refuses the publish with the per-check counts — the branch stays
      on disk for inspection/repair, the catalog keeps serving the old
      state (nothing to roll back: nothing was published);
    - the LOST-UPDATE guard: with ``expect_unchanged`` (default) the
      publish refuses when the catalog no longer pins the exact
      (path, version) the branch forked from — someone published this
      table since the fork, and silently repointing would erase their
      update.  ``expect_unchanged=False`` forces last-writer-wins (the
      catalog history still records both);
    - the swap itself is the same CAS + rebase loop as
      ``multi_table_commit``: concurrent publishes of OTHER tables
      land untouched.

    Returns the new catalog version."""
    rec = wap_provenance(spark, branch_path)
    from .snapshots import snapshot_versions

    # pin the branch head BEFORE the audit and publish exactly that
    # version: capturing it after would open a TOCTOU window where a
    # commit landing on the branch between the audit scan and the version
    # listing gets published unaudited — the audited version and the
    # published version must be the same pin by construction
    branch_head = snapshot_versions(spark, branch_path)[-1]
    if checks:
        bad = {
            n: c
            for n, c in wap_audit(
                spark, branch_path, checks, version=int(branch_head)
            ).items()
            if c
        }
        if bad:
            raise ValueError(
                "WAP audit failed, publish refused (branch kept for "
                "inspection): "
                + ", ".join(
                    f"{n!r} ({c} rows fail: {checks[n]})"
                    for n, c in sorted(bad.items())
                )
            )
    table = str(rec["table"])

    def swap() -> int:
        head = catalog_versions(spark, cat_path)[-1]
        base = _catalog_manifest(spark, cat_path, head)["tables"]
        cur = base.get(table)
        if cur == {"path": branch_path, "version": int(branch_head)}:
            return head  # replayed publish: already pinned
        if expect_unchanged and cur != {
            "path": rec["source_path"],
            "version": int(rec["source_version"]),
        }:
            raise RuntimeError(
                f"WAP publish refused: {table!r} moved since the fork "
                f"(branch forked from {rec['source_path']} "
                f"v{rec['source_version']}, catalog now pins {cur}) — "
                "re-fork and re-apply, or pass expect_unchanged=False "
                "to force last-writer-wins"
            )
        return commit_catalog(
            spark,
            cat_path,
            {**base, table: {"path": branch_path, "version": int(branch_head)}},
            expect_version=head + 1,
        )

    return retry_commit(swap, attempts=attempts)


def wap_publish_many(
    spark: SparkSession,
    cat_path: str,
    branch_paths: list[str],
    *,
    checks: dict[str, dict[str, str]] | None = None,
    expect_unchanged: bool = True,
    attempts: int = 5,
) -> int:
    """MULTI-TABLE Write-Audit-Publish: repoint SEVERAL tables at their
    audited branch heads in ONE catalog swap — the cross-table branch
    commit Nessie/LakeFS give over per-table Iceberg WAP ("load the
    fact AND its dims on branches, audit the JOIN invariants, then
    publish both at once, so no reader ever joins new facts against old
    dims").  All audits run BEFORE anything publishes: one failed check
    refuses the whole transaction and every table keeps serving its old
    state.  ``checks`` maps branch path -> {check name -> predicate}.
    Each branch's stale-source guard applies as in ``wap_publish``;
    the swap is one CAS + rebase, so catalog readers see all of the
    publish or none of it.  Returns the new catalog version."""
    import collections

    branch_paths = list(branch_paths)
    # two distinct failure modes, each named precisely: a branch path
    # listed twice (caller bug, harmless to dedupe but refused loudly so
    # the intent is explicit), vs two DIFFERENT branches targeting the
    # same table (a genuine conflict the swap cannot serialize)
    dup_paths = [
        p for p, c in collections.Counter(branch_paths).items() if c > 1
    ]
    if dup_paths:
        raise ValueError(
            f"branch path(s) listed more than once: {sorted(dup_paths)}"
        )
    recs = {bp: wap_provenance(spark, bp) for bp in branch_paths}
    by_table: dict[str, list[str]] = {}
    for bp in branch_paths:
        by_table.setdefault(str(recs[bp]["table"]), []).append(bp)
    dup_tables = {t: bps for t, bps in by_table.items() if len(bps) > 1}
    if dup_tables:
        raise ValueError(
            "two branches publish the same table: "
            + "; ".join(
                f"{t!r} <- {sorted(bps)}"
                for t, bps in sorted(dup_tables.items())
            )
        )
    from .snapshots import snapshot_versions

    # pin every branch head BEFORE any audit (same TOCTOU closure as
    # wap_publish): each audit runs against its pinned version and the
    # swap publishes exactly those versions
    heads = {
        bp: snapshot_versions(spark, bp)[-1] for bp in branch_paths
    }
    for bp in branch_paths:
        cs = (checks or {}).get(bp)
        if cs:
            bad = {
                n: c
                for n, c in wap_audit(
                    spark, bp, cs, version=int(heads[bp])
                ).items()
                if c
            }
            if bad:
                raise ValueError(
                    f"WAP audit failed on {bp}, NOTHING published: "
                    + ", ".join(
                        f"{n!r} ({c} rows fail: {cs[n]})"
                        for n, c in sorted(bad.items())
                    )
                )

    def swap() -> int:
        head = catalog_versions(spark, cat_path)[-1]
        base = _catalog_manifest(spark, cat_path, head)["tables"]
        pins = {
            str(recs[bp]["table"]): {
                "path": bp, "version": int(heads[bp])
            }
            for bp in branch_paths
        }
        if all(base.get(t) == pins[t] for t in pins):
            return head  # replayed publish: already pinned
        if expect_unchanged:
            for bp in branch_paths:
                rec = recs[bp]
                t = str(rec["table"])
                cur = base.get(t)
                if cur == pins[t]:
                    continue
                if cur != {
                    "path": rec["source_path"],
                    "version": int(rec["source_version"]),
                }:
                    raise RuntimeError(
                        f"WAP publish refused: {t!r} moved since the "
                        f"fork (branch {bp} forked from "
                        f"{rec['source_path']} v{rec['source_version']}, "
                        f"catalog now pins {cur}) — nothing published"
                    )
        return commit_catalog(
            spark, cat_path, {**base, **pins}, expect_version=head + 1
        )

    return retry_commit(swap, attempts=attempts)
