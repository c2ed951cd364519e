"""Persisted MinHash-LSH NEAR-DUPLICATE INDEX as a snapshot layer —
the dedup pillar's durable-versioned-index tier, completing the family
the token index (lexical retrieval) and the ANN assignment layer
(vector search) already give the other two pillars.

``minhash_lsh_pairs`` recomputes every document's signature per query —
correct, but at 100 TB a corpus-dedup pass or a "does this new batch
collide with the corpus?" admission check cannot re-shingle and re-hash
the whole corpus each time.  This module persists the BANDED BUCKET
rows (the LSH join key material) once, maintains them O(delta) from the
base table's change feed, and serves both query shapes from the layer:

- ``buckets`` layer — (bkey, doc_id) rows where ``bkey =
  xxhash64(band, h_{band*r} .. h_{band*r+r-1})`` folds the band id into
  the 8-byte key, range-clustered on bkey with per-file [min, max]
  stats AND a bkey Bloom index.  A point LOOKUP (new docs probed
  against the corpus) reads ONLY the files whose Bloom admits one of
  the probe keys — with range clustering each file holds a narrow bkey
  slice, so q docs probe O(q x bands) files out of the whole layer, a
  point lookup, never a corpus pass.  A corpus-wide PAIR sweep
  self-joins the layer on bkey (singleton buckets dropped first), so
  the expensive half of MinHash dedup — tokenize, shingle, 64 hashes
  per doc — is paid at INDEX time, amortized across every query.
- ``PARAMS.json`` sideband — (num_hashes, bands, shingle n) pinned at
  build, because a probe hashed under different parameters would
  silently miss everything; refresh and lookup load it, never guess.

Candidates from either shape are EXACT-VERIFIED (n-gram Jaccard over
shingle sets joined point-wise from the base table — candidates only,
never all-pairs), so at (64, 32) the output equals the exact-Jaccard
answer up to a ~6e-15 miss probability — which is what the oracles
check.

MAINTENANCE mirrors the token index: deletes fold in as ONE
DataFrame-native equality delete (doc_id keys never touch the driver),
inserts as one rows-scaled clustered append; both O(changed docs).

No counterpart in the reference (the 584-LoC pandas pipeline has no
dedup at all); this extends SURVEY §2.9's LLM-pipeline dedup tier to
its production shape.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens, word_shingles
from ..operators.dedup import minhash_signatures
from ..operators.materialize import materialize
from ..sources.snapshots import (
    _BLOOM_SATURATED,
    _read_text,
    _write_text,
    bloom_bits_for_rows,
    commit_snapshot,
    delete_snapshot_keys,
    read_snapshot,
    snapshot_files,
)

#: the single data layer under the group directory
BUCKETS = "buckets"

#: observability for tests: lookups that proved file pruning, and the
#: probe-key volume each lookup path shipped to the driver (the
#: DataFrame path pins at zero)
_PRUNE_STATS = {"pruned_lookups": 0, "driver_probe_keys": 0}


def _buckets_path(group: str) -> str:
    return f"{group}/{BUCKETS}"




def _params_path(group: str) -> str:
    return f"{group}/PARAMS.json"


def index_params(spark: SparkSession, group: str) -> dict:
    """The build-pinned LSH parameters — every probe MUST hash under
    these or it silently matches nothing."""
    return json.loads(_read_text(spark, _params_path(group)))


def banded_bucket_rows(
    docs: DataFrame,
    *,
    num_hashes: int,
    bands: int,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(bkey, doc_id) LSH bucket rows for a docs delta: MinHash
    signatures (column-wise min over seeded xxhash64 of pre-hashed
    shingles — ``operators.dedup.minhash_signatures``, the exact
    machinery the per-query operator uses, so index-served and
    recomputed answers are bit-identical), banded r = k/b hashes per
    band, band id folded into the 8-byte key.  One explode per doc —
    ``bands`` rows each; docs with no shingles still row (the sentinel
    shingle — short exact-dups must collide)."""
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes={num_hashes} not divisible by bands={bands}"
        )
    sig = minhash_signatures(
        docs, id_col=id_col, text_col=text_col, num_hashes=num_hashes, n=n
    )
    return _banded_keys(sig, num_hashes=num_hashes, bands=bands, id_col=id_col)


def _banded_keys(
    sig: DataFrame, *, num_hashes: int, bands: int, id_col: str
) -> DataFrame:
    """(bkey, doc_id) from a signature relation — the ONE band-key
    construction every probe and build path shares, so index-side and
    probe-side keys can never drift."""
    rows = num_hashes // bands
    keys = [
        F.xxhash64(
            F.lit(bi), *[F.col(f"h{bi * rows + r}") for r in range(rows)]
        )
        for bi in range(bands)
    ]
    return sig.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array(*keys)).alias("bkey"),
    ).select("bkey", "doc_id")


def _append_docs(
    spark: SparkSession,
    group: str,
    docs: DataFrame,
    *,
    first: bool,
    target_rows_per_file: int,
) -> None:
    """One docs delta -> one rows-scaled, bkey-clustered bucket append.
    Bucket rows per delta are EXACTLY ``docs x bands`` (metadata
    arithmetic — one count, no second pass over the rows), so the file
    count follows the delta instead of a constant: a backfill writes
    proportionally many files, a micro-batch writes one."""
    p = index_params(spark, group)
    n_docs = docs.count()
    if not n_docs and not first:
        return
    n_parts = max(
        1,
        math.ceil(n_docs * p["bands"] / max(1, int(target_rows_per_file))),
    )
    rows = banded_bucket_rows(
        docs, num_hashes=p["num_hashes"], bands=p["bands"], n=p["n"]
    )
    commit_snapshot(
        spark,
        rows.repartitionByRange(n_parts, "bkey"),
        _buckets_path(group),
        mode="overwrite" if first else "append",
        stats_cols=["bkey", "doc_id"],
        bloom_col="bkey",
        # layer-creating commit sizes the bloom to the file-size
        # contract (m/n ~ 12 -> ~0.6% FP); appends inherit the pin.
        # an under-sized bloom saturates and admits every file,
        # silently turning the point lookup back into a layer scan
        bloom_bits=bloom_bits_for_rows(target_rows_per_file)
        if first
        else None,
    )


def build_neardup_index(
    spark: SparkSession,
    docs: DataFrame,
    group: str,
    *,
    num_hashes: int = 64,
    bands: int = 32,
    n: int = 3,
    splits: int = 2,
    target_rows_per_file: int = 100_000,
) -> str:
    """Bootstrap the index from a docs snapshot in ``splits``
    incremental appends (doc_id pmod split — negative ids land in a
    split, never vanish), exercising the same O(delta) path a change
    feed drives.  Parameters pin FIRST (``_write_text`` refuses
    overwrite — the layer can never hold rows hashed under two
    parameter sets)."""
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes={num_hashes} not divisible by bands={bands}"
        )
    _write_text(
        spark,
        _params_path(group),
        json.dumps({"num_hashes": num_hashes, "bands": bands, "n": n}),
    )
    for i in range(max(1, splits)):
        part = docs.filter(
            F.pmod(F.col("doc_id"), F.lit(max(1, splits))) == i
        )
        _append_docs(
            spark,
            group,
            part,
            first=(i == 0),
            target_rows_per_file=target_rows_per_file,
        )
    return group


def refresh_neardup_index(
    spark: SparkSession,
    group: str,
    changes: DataFrame,
    *,
    target_rows_per_file: int = 100_000,
) -> dict:
    """Fold a base-table KEYED CHANGE FEED into the index, O(delta):
    ``changes`` is ``snapshot_changes_keyed(..., ["doc_id"],
    include_values=True)`` output.  Deleted/updated doc_ids become ONE
    equality delete (keys shipped as a DataFrame — zero driver hops);
    inserted/updated docs' AFTER text becomes one clustered append.
    Unchanged docs are never re-hashed, no existing file is
    rewritten."""
    changes = changes.persist()
    try:
        removed = changes.filter(
            F.col("change_type").isin("delete", "update")
        ).select("doc_id")
        added = changes.filter(
            F.col("change_type").isin("insert", "update")
        ).select("doc_id", F.col("after.text").alias("text"))
        n_removed = removed.limit(1).count()
        if n_removed:
            delete_snapshot_keys(
                spark, _buckets_path(group), "doc_id", removed
            )
        if added.limit(1).count():
            _append_docs(
                spark,
                group,
                added,
                first=False,
                target_rows_per_file=target_rows_per_file,
            )
        return {"removed_docs": bool(n_removed)}
    finally:
        changes.unpersist()


def _pruned_bucket_rows(
    spark: SparkSession,
    group: str,
    bkeys: "list[int] | DataFrame",
    *,
    assert_pruned: bool = True,
) -> DataFrame:
    """The probe keys' bucket rows, reading ONLY the files whose Bloom
    admits one of them (builder-asserted strict subset) — bkey is a
    hash-scrambled key, exactly the shape the per-file Bloom index
    exists for; range clustering keeps each file's slice narrow so the
    admitted set tracks the probe count, not the layer size.

    ``bkeys`` as a list is the interactive path (driver-computed
    positions, ``isin`` row filter).  ``bkeys`` as a DataFrame of
    ``bkey`` is the LARGE-BATCH path: bloom positions evaluate on the
    executors (``snapshots._prune_files_probe_df``) and the row-level
    filter is the caller's bkey join — zero probe keys ever cross to
    the driver."""
    path = _buckets_path(group)
    df_probe = isinstance(bkeys, DataFrame)
    probe = ("bkey", bkeys if df_probe else list(bkeys))
    if not df_probe:
        _PRUNE_STATS["driver_probe_keys"] += len(probe[1])
    if assert_pruned:
        n_all = len(snapshot_files(spark, path))
        saturated = _BLOOM_SATURATED["n"]
        n_kept = len(snapshot_files(spark, path, prune_point=probe))
        # a 1-file layer (fully compacted small corpus) is legitimately
        # unprunable, and so is a DataFrame probe large enough to
        # saturate the blooms (snapshot_files reports its keep-all
        # short-circuit) — the assertion indicts a MULTI-file plan that
        # could have pruned and still reads everything
        if _BLOOM_SATURATED["n"] == saturated:
            if n_all > 1 and n_kept >= n_all:
                raise AssertionError(
                    f"neardup index did not prune probe of {n_all} files"
                )
            _PRUNE_STATS["pruned_lookups"] += 1
    rows = read_snapshot(spark, path, prune_point=probe)
    if df_probe:
        # pruning is files-only for a DataFrame probe; the exact row
        # restriction is the caller's equi-join on bkey
        return rows
    return rows.filter(F.col("bkey").isin(*probe[1]))


def _verified_pairs(
    cand: DataFrame,
    query_docs: DataFrame,
    corpus_docs: DataFrame,
    *,
    n: int,
    threshold: float,
    query_sets: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard verification over CANDIDATE pairs only:
    each docs side is LEFT-SEMI-joined to the candidate ids BEFORE its
    tokens/shingles are computed, so candidates-only shingling is an
    explicit plan property (a filter above the shingle projection would
    only skip non-candidates if codegen happened to defer the
    expression — not a contract).  The candidate subplan is evaluated
    once more per semi-join; that re-read is index-layer metadata scale,
    while the shingling it avoids is corpus scale.  Intersection sizes
    via JVM array functions — the same verify stage
    ``minhash_lsh_pairs`` runs, so index-served results match the
    recomputed operator exactly."""
    # tokens materialize as a real column BEFORE shingling — feeding
    # word_shingles the raw tokenizer expression re-runs it per element
    # access (the measured-13x quadratic pitfall operators/dedup.py
    # documents).  ``query_sets`` (a materialized shingle_sets relation,
    # (__id, __set)) lets the batch-admission path reuse the probe
    # side's ONE tokenize+shingle pass instead of re-running it here.
    if query_sets is not None:
        qsets = query_sets.join(
            cand.select(F.col("i").alias("__id")).distinct(),
            "__id",
            "left_semi",
        ).select(F.col("__id").alias("i"), F.col("__set").alias("__si"))
    else:
        qsets = (
            query_docs.join(
                cand.select(F.col("i").alias("doc_id")).distinct(),
                "doc_id",
                "left_semi",
            )
            .select(F.col("doc_id").alias("i"), tokens("text").alias("__tok"))
            .select("i", word_shingles(F.col("__tok"), n).alias("__si"))
        )
    csets = (
        corpus_docs.join(
            cand.select(F.col("j").alias("doc_id")).distinct(),
            "doc_id",
            "left_semi",
        )
        .select(F.col("doc_id").alias("j"), tokens("text").alias("__tok"))
        .select("j", word_shingles(F.col("__tok"), n).alias("__sj"))
    )
    return (
        cand.join(qsets, "i")
        .join(csets, "j")
        .withColumn(
            "n_common",
            F.size(F.array_intersect("__si", "__sj")).cast("long"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.size("__si") + F.size("__sj") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("i", "j", "n_common", F.round("jaccard", 4).alias("jaccard"))
    )


def indexed_neardup_lookup(
    spark: SparkSession,
    group: str,
    query_docs: DataFrame,
    corpus_docs: DataFrame,
    *,
    threshold: float = 0.8,
    assert_pruned: bool = True,
    probe_mode: str = "driver",
) -> DataFrame:
    """ADMISSION CHECK / point lookup: which corpus documents are
    near-duplicates of each query document?  The incoming-batch-vs-
    corpus question every dedup-gated ingestion pipeline asks, served
    WITHOUT touching the corpus: the query docs hash under the pinned
    parameters, the Bloom admits only the files that can hold a probed
    bucket, candidates join in, and the exact verify reads just the
    candidate docs' text.  Emits (i = query doc_id, j = corpus doc_id,
    n_common, jaccard) with i's own corpus row excluded (i != j).

    ``probe_mode`` picks the planning path:

    - ``"driver"`` (interactive): the q x bands probe keys collect to
      the driver — metadata scale for a small q, and the row filter is
      a literal ``isin``.
    - ``"dataframe"`` (batch admission — "dedup this incoming shard
      against the corpus"): probe keys stay a DataFrame end to end —
      bloom positions evaluate executor-side, the row filter is the
      bkey equi-join (AQE picks the strategy by actual probe size), and
      ZERO probe keys cross the driver (``_PRUNE_STATS
      ["driver_probe_keys"]`` pins flat), so a 10M-doc shard plans
      without a 320M-literal IN expression.  The probe batch's
      signatures are evaluated once for planning and once for the
      join — both executor-side, both O(probe); the corpus is never
      re-hashed in either mode."""
    if probe_mode not in ("driver", "dataframe"):
        raise ValueError(f"unknown probe_mode {probe_mode!r}")
    p = index_params(spark, group)
    if probe_mode == "dataframe":
        from ..operators.dedup import (
            minhash_signatures_from_sets,
            shingle_sets,
        )

        # ONE tokenize+shingle pass over the probe batch feeds BOTH the
        # signature stage and the exact verify (bit-identical values:
        # the signature hashes these exact shingle strings) — the r15
        # shape tokenized the shard twice, and at sf0.1 each pass was
        # ~0.8 s of the 4.7 s serve.  O(shard) shingle arrays
        # materialize; the CORPUS is never shingle-materialized (its
        # verify side stays candidate-pruned), so the memory trade is
        # bounded by the admission batch, not the table.
        qsets = shingle_sets(
            query_docs, id_col="doc_id", text_col="text", n=p["n"]
        ).transform(materialize)
        sig = minhash_signatures_from_sets(
            qsets, num_hashes=p["num_hashes"], id_col="__id"
        )
        qrows = _banded_keys(
            sig, num_hashes=p["num_hashes"], bands=p["bands"], id_col="__id"
        ).select(F.col("bkey"), F.col("doc_id").alias("i"))
        # the probe keys and the candidate pairs are each consumed by
        # SEVERAL downstream subplans (bloom planning, the bkey join,
        # the candidates-only semi-joins in the verify stage);
        # materialize so the 64-hash signature stage runs ONCE per
        # admission call instead of once per consumer
        qrows = qrows.transform(materialize)
        # no .distinct() here: the prune path distincts after its string
        # cast anyway, so a call-site distinct only added a second full
        # shuffle of the probe keys before the saturation bound could
        # short-circuit (r16 — whole-corpus admission batches paid it to
        # prune zero files)
        hits = _pruned_bucket_rows(
            spark,
            group,
            qrows.select("bkey"),
            assert_pruned=assert_pruned,
        )
        cand = (
            hits.join(qrows, "bkey")
            .filter(F.col("i") != F.col("doc_id"))
            .select("i", F.col("doc_id").alias("j"))
            .distinct()
            .transform(materialize)
        )
        return _verified_pairs(
            cand,
            query_docs,
            corpus_docs,
            n=p["n"],
            threshold=threshold,
            query_sets=qsets,
        )
    qrows = banded_bucket_rows(
        query_docs, num_hashes=p["num_hashes"], bands=p["bands"], n=p["n"]
    ).select(F.col("bkey"), F.col("doc_id").alias("i"))
    # probe keys to the driver: O(q x bands) longs, the same metadata-
    # scale hop the ANN probe cells and lexicon top-n make — never rows
    bkeys = [r["bkey"] for r in qrows.select("bkey").distinct().collect()]
    if not bkeys:
        return spark.createDataFrame(
            [], "i long, j long, n_common long, jaccard double"
        )
    hits = _pruned_bucket_rows(
        spark, group, bkeys, assert_pruned=assert_pruned
    )
    # candidates are consumed three times by the verify stage (final
    # join + two candidates-only semi-joins); checkpoint so the pruned
    # layer read runs once per lookup
    cand = (
        hits.join(F.broadcast(qrows), "bkey")
        .filter(F.col("i") != F.col("doc_id"))
        .select("i", F.col("doc_id").alias("j"))
        .distinct()
        .transform(materialize)
    )
    return _verified_pairs(
        cand, query_docs, corpus_docs, n=p["n"], threshold=threshold
    )


def indexed_neardup_pairs(
    spark: SparkSession,
    group: str,
    corpus_docs: DataFrame,
    *,
    threshold: float = 0.8,
    max_bucket: int | None = None,
) -> DataFrame:
    """Corpus-wide near-dup PAIRS from the maintained index: the
    ``minhash_lsh_pairs`` answer with the signature stage amortized —
    tokenize/shingle/64-hashes never re-run at query time; the layer
    read (merge-on-read deletes applied, so churn-deleted docs are
    already gone) self-joins on bkey with singleton buckets dropped
    before the join, then candidates exact-verify against the base
    table.  Emits (i, j, n_common, jaccard) with i < j — identical to
    the recomputed operator up to the banding miss bound.

    ``max_bucket`` additionally drops HOT buckets (a boilerplate
    bucket of B docs yields B² candidates) — the same documented
    recall trade ``minhash_lsh_pairs`` and ``simhash_neardup_pairs``
    offer: pairs whose every shared bucket is hot are lost; pairs
    sharing any normal bucket still surface.  Default None keeps
    exact banding semantics."""
    p = index_params(spark, group)
    rows = read_snapshot(spark, _buckets_path(group))
    # singleton/hot-bucket gate as count().over(the self-join's own bkey
    # partitioning): the separate sizes aggregation + join consumed the
    # layer read twice and added its own exchanges — the same fold r15
    # applied to simhash_neardup_pairs (guide §2.4: two operations keyed
    # the same way share one exchange)
    from pyspark.sql import Window

    live = rows.withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy("bkey"))
    ).filter(F.col("__n") >= 2)
    if max_bucket is not None:
        live = live.filter(F.col("__n") <= max_bucket)
    live = live.select("bkey", "doc_id")
    cand = (
        live.alias("a")
        .join(live.alias("b"), "bkey")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("i"), F.col("b.doc_id").alias("j")
        )
        .distinct()
        # consumed three times by the verify stage; checkpoint so the
        # banded self-join runs once per call
        .transform(materialize)
    )
    return _verified_pairs(
        cand, corpus_docs, corpus_docs, n=p["n"], threshold=threshold
    )


def maintain_neardup_index(
    spark: SparkSession,
    group: str,
    *,
    target_rows_per_file: int = 100_000,
    recluster: bool = False,
) -> dict:
    """Steady-state MAINTENANCE for the bucket layer — the dedup twin
    of ``token_index.maintain_token_index`` / ``vectors.
    maintain_ann_assignments``: a stream of refreshes leaves small
    bkey-clustered appends plus live equality-delete entries
    (merge-on-read tax on every lookup), so this runs the metadata-only
    advisor and compacts where it says to — ``fold_deletes=True``
    forces the delete-touched files into the rewrite, and the packer
    regenerates the bkey Bloom entries for the packed outputs under the
    layer's PINNED bloom parameters (maintenance must never un-tune the
    index it maintains).  Returns {"buckets": actions}."""
    from ..sources.snapshots import (
        compact_small_files,
        snapshot_maintenance_plan,
    )

    path = _buckets_path(group)
    plan = {
        r["action"]
        for r in snapshot_maintenance_plan(
            spark, path, target_rows_per_file=target_rows_per_file
        ).collect()
    }
    actions = []
    if {"compact_small_files", "fold_deletes"} & plan:
        compact_small_files(
            spark,
            path,
            small_file_bytes=32 << 20,
            stats_cols=["bkey", "doc_id"],
            fold_deletes="fold_deletes" in plan,
        )
        actions.append("compacted")
    if recluster:
        from .maintenance import recluster_if_dull

        # bkey is the serving column the point lookup's bloom AND the
        # pair sweep's self-join key cluster on
        if recluster_if_dull(
            spark,
            path,
            "bkey",
            stats_cols=["bkey", "doc_id"],
            target_rows_per_file=target_rows_per_file,
        ):
            actions.append("reclustered")
    return {BUCKETS: actions}
