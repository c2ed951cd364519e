"""Exactly-once streaming ingest INTO the snapshot-versioned table layer.

Structured Streaming's ``foreachBatch`` is at-least-once: after a crash
between the batch function and the checkpoint commit, the SAME micro-batch
(same ``batch_id``) is replayed on restart.  Exactly-once therefore has to
come from the SINK — here from ``commit_snapshot(txn=(app_id, batch_id))``:
the manifest carries a per-writer high-water mark and a replayed batch id
commits as a no-op (the Delta transactional-sink pattern,
``txnAppId``/``txnVersion``).

This is the production "stream into a table format" story: every
micro-batch becomes one O(delta) append version, readers time-travel and
data-skip over it like any other commit, ``rewrite_snapshot`` compacts the
small files the stream leaks, and ``vacuum_snapshots`` retires history —
the full table-maintenance loop the rest of ``sources/snapshots.py``
provides, fed by a live stream.

No counterpart in the reference (batch-only pandas ETL); this is the §2.8
streaming surface composed with the storage layer.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from ..sources.snapshots import commit_snapshot


def snapshot_batch_writer(
    path: str,
    *,
    app_id: str = "stream",
    stats_cols: list[str] | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> Callable[[DataFrame, int], None]:
    """The ``foreachBatch`` function: commit each micro-batch as an
    O(delta) append version, idempotent per ``(app_id, batch_id)`` so a
    checkpoint-replayed batch can never double-ingest.  ``transform``
    runs inside the batch (e.g. dropping a flush sentinel) — safe here
    because no watermark is involved in a raw-ingest sink."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df) if transform is not None else batch_df
        commit_snapshot(
            out.sparkSession,
            out,
            path,
            mode="append",
            stats_cols=stats_cols,
            txn=(app_id, int(batch_id)),
        )

    return write_batch


def append_stream_to_snapshot(
    stream: DataFrame,
    path: str,
    *,
    checkpoint_dir: str,
    query_name: str = "snapshot_sink",
    app_id: str = "stream",
    stats_cols: list[str] | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
):
    """Run ``stream`` to completion (availableNow) into the snapshot
    layer at ``path`` via the idempotent batch writer.  Returns after the
    final commit; restarting with the same ``checkpoint_dir`` resumes
    from the recorded offsets and replays at most the in-flight batch,
    which the txn high-water mark turns into a no-op."""
    q = (
        stream.writeStream.foreachBatch(
            snapshot_batch_writer(
                path,
                app_id=app_id,
                stats_cols=stats_cols,
                transform=transform,
            )
        )
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def snapshot_upsert_writer(
    path: str,
    key_col: str,
    *,
    app_id: str = "stream_upsert",
    resolve: list[str] | None = None,
    bootstrap_files: int = 4,
    commit_attempts: int = 20,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` function for STREAMING CDC UPSERT: each
    micro-batch is reduced to one row per key (greatest ``resolve``
    tuple within the batch), then MERGEd copy-on-write into the layer —
    ``merge_snapshot`` prunes to the files whose key range a batch key
    actually hits, so a steady trickle of updates rewrites O(touched
    files) per batch, never the table.

    Exactly-once falls out of ``txn=(app_id, batch_id)``: a
    checkpoint-replayed batch merges as a no-op.  ``resolve`` gives
    LAST-WRITER-WINS against both in-batch duplicates and already-merged
    state, which ALSO makes the sink insensitive to batch arrival order
    for out-of-order sources.  The first batch bootstraps the layer
    key-clustered (``repartitionByRange`` on the key) so every later
    merge's file pruning is sharp.

    ``commit_attempts`` sizes the OCC retry loop (with randomized
    backoff — see ``retry_commit``): a streaming sink racing other
    writers must out-wait transient contention instead of failing the
    whole query on the default batch-job attempt count."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..sources.snapshots import (
        merge_snapshot,
        retry_commit,
        snapshot_versions,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df) if transform is not None else batch_df
        if resolve:
            w = Window.partitionBy(key_col).orderBy(
                *[F.col(c).desc() for c in resolve]
            )
            out = (
                out.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        spark = out.sparkSession

        # the bootstrap is check-then-act (empty layer -> first commit),
        # so a concurrent writer — or a leftover v1 from a racing
        # bootstrap — can make the losing commit raise FileExistsError;
        # retry_commit re-runs the WHOLE closure, which re-reads the
        # head and falls through to merge_snapshot once the layer has a
        # version, instead of killing the streaming query.  The txn
        # marker keeps every retry idempotent.
        def attempt():
            if not snapshot_versions(spark, path):
                # expect_version=1 makes the bootstrap a compare-and-swap:
                # if a racer committed first, this raises FileExistsError
                # (instead of silently OVERWRITING the racer's v1) and
                # the retry merges against the new head
                commit_snapshot(
                    spark,
                    out.repartitionByRange(bootstrap_files, key_col),
                    path,
                    stats_cols=[key_col],
                    txn=(app_id, int(batch_id)),
                    expect_version=1,
                )
            else:
                merge_snapshot(
                    spark,
                    out,
                    path,
                    key_col,
                    stats_cols=[key_col],
                    resolve=resolve,
                    txn=(app_id, int(batch_id)),
                )

        retry_commit(attempt, attempts=commit_attempts)

    return write_batch


def upsert_stream_into_snapshot(
    stream: DataFrame,
    path: str,
    key_col: str,
    *,
    checkpoint_dir: str,
    query_name: str = "snapshot_upsert",
    app_id: str = "stream_upsert",
    resolve: list[str] | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
):
    """Run ``stream`` to completion (availableNow) as a CDC upsert into
    the snapshot layer at ``path``; see ``snapshot_upsert_writer``."""
    q = (
        stream.writeStream.foreachBatch(
            snapshot_upsert_writer(
                path,
                key_col,
                app_id=app_id,
                resolve=resolve,
                transform=transform,
            )
        )
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def snapshot_cdc_writer(
    path: str,
    key_col: str,
    *,
    op_col: str = "op",
    delete_op: str = "delete",
    app_id: str = "cdc",
    resolve: list[str] | None = None,
    bootstrap_files: int = 4,
    commit_attempts: int = 20,
    delete_mode: str = "equality",
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` function for a FULL CDC APPLY (Debezium-style):
    each micro-batch carries an ``op_col`` naming the operation per row —
    ``delete_op`` rows delete their key, everything else upserts.  A
    NULL ``op_col`` is a malformed CDC record and FAILS THE BATCH loudly
    (``ValueError``): under three-valued logic it would match neither
    the upsert nor the delete filter and silently vanish.  Per
    key, the row with the greatest ``resolve`` tuple within the batch
    decides (a delete arriving after an upsert of the same key in one
    batch wins, and vice versa — the last-op-wins CDC contract).

    Upserts MERGE copy-on-write (file-pruned, O(touched files));
    deletes go through ``delete_snapshot_keys`` — **O(keys) metadata,
    zero data reads** — which is the whole point at stream rate: a
    position-delete CDC sink would pay a scan per batch.  Exactly-once:
    the merge commits txn ``(app, 2*batch_id)`` and the delete commits
    ``(app, 2*batch_id + 1)``, so a checkpoint-replayed batch no-ops
    both halves, including the crash-between-halves replay (the merge
    half no-ops on its marker, the delete half then applies once).

    Deletes are not tombstoned across batches: a later batch's upsert
    of a deleted key re-inserts it — correct for time-ordered CDC
    feeds, where the key's newest op always arrives last.

    ``delete_mode`` picks the delete flavor and its trade:

    - ``"equality"`` (default): ``delete_snapshot_keys`` — O(keys)
      metadata, ZERO data reads per batch.  The delete keys are passed
      as a DATAFRAME, so they never funnel through the driver (a
      purge/backfill batch with millions of deletes writes its key
      sidecar straight from the executors — pinned by the
      ``_EQ_DELETE_DRIVER_KEYS`` counter test).  On a ``change_feed``
      layer the commit records a key-only change source whose
      pre-images materialize lazily on first CDF read, so the layer
      stays consumable by the ``mode=cdf`` stream / the O(delta)
      ``snapshot_changes`` route.
    - ``"position"``: ``delete_snapshot(keys=...)`` — the matching
      scan is a broadcast semi-join against the batch's keys frame,
      stats-pruned to the keys' [min, max] envelope; pays a scan of
      the candidate files per batch, and (with the layer's
      ``change_feed`` property on) records the deleted rows' full
      pre-images EAGERLY at commit time.  Pick this when CDF reads
      must never pay the lazy materialization (e.g. a
      latency-critical tail) and a per-batch scan is acceptable.
      Like the equality mode, the key set never touches the driver
      (``_POS_DELETE_DRIVER_KEYS``-pinned).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..sources.snapshots import (
        delete_snapshot,
        delete_snapshot_keys,
        merge_snapshot,
        retry_commit,
        snapshot_versions,
    )

    if delete_mode not in ("equality", "position"):
        raise ValueError("delete_mode must be 'equality' or 'position'")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df) if transform is not None else batch_df
        if resolve:
            w = Window.partitionBy(key_col).orderBy(
                *[F.col(c).desc() for c in resolve]
            )
            out = (
                out.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        out = out.localCheckpoint(eager=True)  # one materialization
        # malformed records fail loudly: a NULL op is neither an upsert
        # nor a delete under SQL three-valued logic, so without this
        # check the row would land in NEITHER branch and vanish
        n_null = out.filter(F.col(op_col).isNull()).limit(1).count()
        if n_null:
            raise ValueError(
                f"CDC batch {batch_id}: row(s) with NULL {op_col!r} — "
                "malformed change records are rejected, not dropped"
            )
        ups = out.filter(F.col(op_col) != delete_op).drop(op_col)
        dels_df = out.filter(F.col(op_col) == delete_op).select(key_col)
        # emptiness probe, not a key collect (out is checkpointed)
        has_dels = dels_df.limit(1).count() > 0
        spark = out.sparkSession

        def apply_upserts():
            if not snapshot_versions(spark, path):
                commit_snapshot(
                    spark,
                    ups.repartitionByRange(bootstrap_files, key_col),
                    path,
                    stats_cols=[key_col],
                    txn=(app_id, 2 * int(batch_id)),
                    expect_version=1,
                )
            else:
                merge_snapshot(
                    spark,
                    ups,
                    path,
                    key_col,
                    stats_cols=[key_col],
                    resolve=resolve,
                    txn=(app_id, 2 * int(batch_id)),
                )

        retry_commit(apply_upserts, attempts=commit_attempts)
        if has_dels and snapshot_versions(spark, path):
            if delete_mode == "position":
                # KEY-MATCH position delete: the matching scan is a
                # broadcast semi-join against the keys frame, so this
                # mode is driver-free too (no IN-literal collect —
                # counter-pinned like the equality path); the scan's
                # prune range resolves from the keys' 3-scalar envelope
                retry_commit(
                    lambda: delete_snapshot(
                        spark,
                        path,
                        keys=(key_col, dels_df),
                        txn=(app_id, 2 * int(batch_id) + 1),
                    ),
                    attempts=commit_attempts,
                )
            else:
                # DataFrame path: the key set never touches the driver
                retry_commit(
                    lambda: delete_snapshot_keys(
                        spark,
                        path,
                        key_col,
                        dels_df,
                        txn=(app_id, 2 * int(batch_id) + 1),
                    ),
                    attempts=commit_attempts,
                )

    return write_batch


def cdc_stream_into_snapshot(
    stream: DataFrame,
    path: str,
    key_col: str,
    *,
    checkpoint_dir: str,
    query_name: str = "snapshot_cdc",
    op_col: str = "op",
    app_id: str = "cdc",
    resolve: list[str] | None = None,
    delete_mode: str = "equality",
    transform: Callable[[DataFrame], DataFrame] | None = None,
):
    """Run ``stream`` to completion (availableNow) as a full CDC apply
    (upserts + key deletes) into the snapshot layer at ``path``; see
    ``snapshot_cdc_writer``."""
    q = (
        stream.writeStream.foreachBatch(
            snapshot_cdc_writer(
                path,
                key_col,
                op_col=op_col,
                app_id=app_id,
                resolve=resolve,
                delete_mode=delete_mode,
                transform=transform,
            )
        )
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def catalog_publish_writer(
    cat_path: str,
    plan_fn: Callable[[DataFrame], list],
    *,
    app_id: str = "catalog_publish",
    attempts: int = 20,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` function for ATOMIC MULTI-TABLE streaming
    publish: ``plan_fn(batch_df)`` returns the transaction's writes —
    ``[(table, df, layer_path, commit_snapshot kwargs)]`` — and every
    micro-batch lands as normal layer commits plus ONE catalog swap
    (``table_catalog.multi_table_commit``), so downstream catalog
    readers NEVER see a batch's tables half-published (e.g. raw docs
    without their stats row, the medallion invariant a per-table sink
    cannot give).

    Exactly-once composes across both levels: each layer commit carries
    ``txn=(app_id, batch_id)`` (injected unless the plan overrides it),
    so a checkpoint-replayed batch's layer commits no-op and return the
    already-pinned versions — and the catalog swap detects unchanged
    pins and SKIPS (no catalog version churn), making the whole
    transaction idempotent."""
    from ..sources.table_catalog import multi_table_commit

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        writes = []
        for table, df, layer_path, kwargs in plan_fn(batch_df):
            kw = dict(kwargs or {})
            kw.setdefault("txn", (app_id, int(batch_id)))
            writes.append((table, df, layer_path, kw))
        multi_table_commit(
            batch_df.sparkSession, cat_path, writes, attempts=attempts
        )

    return write_batch


def wap_publish_writer(
    cat_path: str,
    plan_fn: Callable[[DataFrame], list],
    *,
    branch_root: str,
    checks: dict[str, dict[str, str]] | None = None,
    app_id: str = "stream_wap",
    attempts: int = 20,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` function for STREAMING WRITE-AUDIT-PUBLISH
    (r13 verdict item #6): every micro-batch lands on per-table WAP
    BRANCHES (zero-copy forks of the catalog's current pins under
    ``branch_root``), the batch's audits run against the pinned branch
    heads, and ONE ``wap_publish_many`` CAS swap publishes every table
    — or, on ANY audit violation, NOTHING publishes: the batch's bad
    data sits on its branches for inspection, catalog readers keep the
    last good version, and the failed stream can be repaired and
    restarted.

    ``plan_fn(batch_df)`` returns ``[(table, df, commit kwargs)]``;
    each ``table`` must already be in the catalog (WAP forks published
    state — seed the catalog first).  ``checks`` maps table ->
    {check name -> SQL predicate} (audit semantics of ``wap_audit``).

    Exactly-once composes across all three levels: the branch append
    carries ``txn=(app_id, batch_id)`` (a checkpoint-replayed batch's
    append no-ops), the branch FORK is keyed by batch id (an existing
    provenance-complete branch is reused, a half-forked crash remnant
    — clone without WAP.json — is dropped and re-forked), and the
    publish swap detects already-pinned branches and skips.  Branch
    paths are ``{branch_root}/{table}_b{batch_id}``: reuse the same
    ``branch_root`` ONLY with the same checkpoint (a fresh checkpoint
    restarts batch ids at 0 and would collide with retired branches)."""
    from ..sources.snapshots import drop_snapshot_layer, snapshot_versions
    from ..sources.table_catalog import (
        wap_branch,
        wap_provenance,
        wap_publish_many,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        branch_checks: dict[str, dict[str, str]] = {}
        branches: list[str] = []
        for table, df, kwargs in plan_fn(batch_df):
            bp = f"{branch_root}/{table}_b{int(batch_id)}"
            if snapshot_versions(spark, bp):
                try:
                    wap_provenance(spark, bp)
                except FileNotFoundError:
                    # crashed between clone and provenance write: safe
                    # garbage by the wap_branch contract — re-fork
                    drop_snapshot_layer(spark, bp, force=True)
            if not snapshot_versions(spark, bp):
                wap_branch(
                    spark,
                    cat_path,
                    table,
                    bp,
                    audit_id=f"{app_id}/b{int(batch_id)}",
                )
            kw = dict(kwargs or {})
            kw.setdefault("txn", (app_id, int(batch_id)))
            kw.setdefault("mode", "append")
            commit_snapshot(spark, df, bp, **kw)
            branches.append(bp)
            cks = (checks or {}).get(str(table))
            if cks:
                branch_checks[bp] = cks
        wap_publish_many(
            spark,
            cat_path,
            branches,
            checks=branch_checks or None,
            attempts=attempts,
        )

    return write_batch


def wap_stream_to_catalog(
    stream: DataFrame,
    cat_path: str,
    plan_fn: Callable[[DataFrame], list],
    *,
    branch_root: str,
    checks: dict[str, dict[str, str]] | None = None,
    checkpoint_dir: str,
    query_name: str = "stream_wap",
    app_id: str = "stream_wap",
):
    """Run ``stream`` to completion as audited WAP transactions; see
    ``wap_publish_writer``.  An audit violation fails the stream with
    the per-check counts (the batch stays on its branches, the catalog
    keeps serving the last published state)."""
    q = (
        stream.writeStream.foreachBatch(
            wap_publish_writer(
                cat_path,
                plan_fn,
                branch_root=branch_root,
                checks=checks,
                app_id=app_id,
            )
        )
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
