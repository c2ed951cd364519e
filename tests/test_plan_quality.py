"""Physical-plan regression tests: the scale properties SURVEY.md §4
promises (pushdown, pruning, broadcast, top-k short-circuit) must be
visible in the plan, not just hoped for.  These fail if a refactor
silently degrades the plan shape even while results stay correct.
"""

from __future__ import annotations

import pytest

import io
from contextlib import redirect_stdout

from aie321_bigdata_movie_kpi_1m_spark.plans.catalog import CATALOG

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = CATALOG[name].fn(spark, SF)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# Plan-shape assertions run under BOTH AQE settings where possible: AQE
# can mask a shape regression (e.g. hide a doubled exchange behind
# runtime stage reuse), so the static AQE-off plan is the contract and
# the AQE-on plan guards the default-session path.
from .conftest import override_confs as _confs  # noqa: E402


def test_filter_and_projection_reach_the_scan(spark):
    plan = plan_of(spark, "filter_project_pushdown")
    assert "PushedFilters: [" in plan
    # the filters actually push (not an empty list)
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThan(l_discount" in plan
    # projection pruning: the scan reads only the needed columns, so wide
    # lineitem columns must NOT appear in ReadSchema
    read_schema = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "l_comment" not in read_schema and "l_shipmode" not in read_schema


def test_star_join_broadcasts_small_dimensions(spark):
    plan = plan_of(spark, "join_star_revenue")
    assert "BroadcastHashJoin" in plan
    # the 100 TB fact table must never be the built/broadcast side of a
    # nested loop
    assert "CartesianProduct" not in plan


def test_topk_uses_take_ordered(spark):
    plan = plan_of(spark, "sort_limit_topk")
    assert "TakeOrderedAndProject" in plan


def test_agg_is_two_phase(spark):
    # partial (map-side) + final hash aggregation around one shuffle
    plan = plan_of(spark, "genre_avg_revenue")
    assert plan.count("HashAggregate") >= 2


@pytest.mark.parametrize(
    "name, col, descending",
    [
        ("bq3_films_per_year", "release_year", False),
        ("bq4_country_popularity", "avg_popularity", True),
        ("bq5_runtime_rating", "runtime_bucket", False),
    ],
)
def test_small_kpi_results_sort_without_a_range_shuffle(spark, name, col, descending):
    # tens of result rows: ordered inside one partition, never by a global
    # sort that samples range bounds and shuffles a second time
    assert "rangepartitioning" not in plan_of(spark, name)
    got = [r[col] for r in CATALOG[name].fn(spark, SF).collect()]
    assert len(got) > 1
    assert got == sorted(got, reverse=descending)


def test_neardup_join_is_keyed_not_cartesian(spark):
    plan = plan_of(spark, "neardup_jaccard")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_whole_stage_codegen_covers_core_pipeline(spark):
    # formatted explain marks codegen'd operators with "[codegen id : N]"
    plan = plan_of(spark, "movie_facts")
    assert "codegen id" in plan


def test_repetition_stats_is_shuffle_free(spark):
    # the repetition gates are a per-row projection: a corpus-scale scan
    # must stream through with zero exchanges
    plan = plan_of(spark, "doc_repetition_stats")
    assert "Exchange" not in plan


def _shuffle_exchanges(plan: str) -> int:
    # detail-section shuffle nodes look like "(3) Exchange"; broadcast
    # exchanges ("(8) BroadcastExchange") deliberately don't count
    import re

    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def test_pack_sequences_shuffles_once_on_shard(spark):
    # one hash exchange (the shard window) and nothing else: packing must
    # not add a global-order bottleneck
    plan = plan_of(spark, "pack_sequences")
    assert _shuffle_exchanges(plan) == 1
    assert "hashpartitioning(shard" in plan
    assert "SinglePartition" not in plan


def test_survivor_policy_single_shuffle_window(spark):
    # quality-argmax survivors: one exchange on the fingerprint key drives
    # both the window rank and the copy count (the doc_id join side is
    # broadcast, which is free at dimension size)
    plan = plan_of(spark, "dedup_survivors_by_quality")
    assert _shuffle_exchanges(plan) == 1
    assert "hashpartitioning(fingerprint" in plan


def test_vocab_topk_short_circuits(spark):
    # global top-100 must be TakeOrderedAndProject (distributed partial
    # top-k), never a single-partition global window
    plan = plan_of(spark, "vocab_topk")
    assert "TakeOrderedAndProject" in plan
    assert "SinglePartition" not in plan


def test_pii_profile_is_shuffle_free(spark):
    plan = plan_of(spark, "doc_pii_profile")
    assert "Exchange" not in plan


def test_bucketed_join_skips_the_shuffle(spark, tmp_path):
    # co-located join (SURVEY §4): both sides bucketed on the join key
    # with the same bucket count -> sort-merge join with ZERO exchanges
    from aie321_bigdata_movie_kpi_1m_spark.sources.sinks import write_bucketed

    left = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS a")
    right = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS b")
    write_bucketed(left, "bkt_left", bucket_cols=["k"], n_buckets=8, sort_cols=["k"])
    write_bucketed(right, "bkt_right", bucket_cols=["k"], n_buckets=8, sort_cols=["k"])
    try:
        # assert under BOTH AQE settings: AQE stage handling must not be
        # what makes the plan exchange-free
        for aqe in ("true", "false"):
            with _confs(
                spark,
                {
                    "spark.sql.autoBroadcastJoinThreshold": "-1",
                    "spark.sql.adaptive.enabled": aqe,
                },
            ):
                joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
                buf = io.StringIO()
                with redirect_stdout(buf):
                    joined.explain("formatted")
                plan = buf.getvalue()
                assert "SortMergeJoin" in plan, f"aqe={aqe}"
                assert "Exchange" not in plan, f"aqe={aqe}"  # bucketing replaced both shuffles
                assert joined.count() == 1000
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_aqe_splits_skewed_join_partitions(spark):
    # the other skew lever besides operators/skew.py salting: AQE's
    # runtime skew-join split.  One hot key dominates the left side; with
    # aggressive thresholds AQE must mark the sort-merge join skew=true
    # (partition split at runtime) while results stay exact.
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 60_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("x" * 64), F.col("id")).alias("payload"),
        )
        right = spark.range(0, 2_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        joined = left.join(right, "k")
        # collect() executes THIS DataFrame's plan, so its own
        # QueryExecution carries the finalized adaptive plan (count()
        # would run a different query and leave this one unfinalized)
        # 54000 rows hit the hot key 7; the cold keys are ids ≡ 9 (mod 10)
        # below 2000 -> 200 matches
        assert len(joined.collect()) == 54_000 + 200
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_join_query_has_single_agg_exchange(spark):
    # the catalog's bucketed-join query: the o_custkey=c_custkey join
    # must be exchange-free (bucketing pre-paid it); the only shuffle
    # allowed is the final groupBy(c_mktsegment).  Checked under both
    # AQE settings so adaptive re-planning can't mask a doubled stage.
    for aqe in ("true", "false"):
        with _confs(spark, {"spark.sql.adaptive.enabled": aqe}):
            plan = plan_of(spark, "bucketed_join_orders")
            assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan, f"aqe={aqe}"
            assert _shuffle_exchanges(plan) <= 1, f"aqe={aqe}"
            assert "hashpartitioning(o_custkey" not in plan, f"aqe={aqe}"
            assert "hashpartitioning(c_custkey" not in plan, f"aqe={aqe}"


def test_stable_ids_avoids_global_single_partition_sort(spark):
    # zipWithIndex idiom: range repartition (materialized behind an
    # eager localCheckpoint so the sizes pass and the rank pass see ONE
    # partitioning — repartitionByRange samples boundaries, so two
    # executions may differ) + per-partition window, never a
    # SinglePartition global window
    plan = plan_of(spark, "stable_doc_ids")
    assert "SinglePartition" not in plan
    # the checkpointed range partitioning arrives as an ExistingRDD scan;
    # the rank window partitions by __pid, never a global order-by
    assert "ExistingRDD" in plan
    assert "windowspecdefinition(__pid" in plan


def test_gapfill_single_user_partitioning_is_reused(spark):
    # grid explode, left join, and ffill window all run on the user_id
    # partitioning; the plan must not re-shuffle between join and window
    plan = plan_of(spark, "events_gapfill_ffill")
    assert "CartesianProduct" not in plan


def test_unpivot_expands_without_shuffle(spark):
    plan = plan_of(spark, "unpivot_segment_stats")
    assert "Expand" in plan
    # one shuffle for the groupBy; the unpivot itself adds none
    assert _shuffle_exchanges(plan) <= 1


def test_chunking_is_shuffle_free(spark):
    # sliding-window chunking is arithmetic fan-out: a corpus-scale scan
    # must stream through with zero exchanges
    plan = plan_of(spark, "doc_chunk_sliding")
    assert "Exchange" not in plan


def test_lateral_topk_rewrites_to_rank_not_loop(spark):
    # the correlated LATERAL ... LIMIT must decorrelate into a windowed
    # group-limit (WindowGroupLimit pushes top-k below the shuffle) +
    # broadcast join — never a per-outer-row nested-loop replay
    plan = plan_of(spark, "sql_lateral_topk")
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dynamic_partition_pruning_fires_on_partitioned_fact(spark, tmp_path):
    # the third pruning lever after static partition pruning and filter
    # pushdown: a partitioned fact joined to a FILTERED dim must scan
    # only the dim-selected partitions, via a runtime subquery on the
    # join key (at 100 TB this is the difference between reading 3 days
    # and reading 20 years)
    from pyspark.sql import functions as F

    fact = spark.range(0, 20_000).select(
        (F.col("id") % 50).alias("day"), F.col("id").alias("v")
    )
    fact.write.mode("overwrite").partitionBy("day").parquet(
        str(tmp_path / "fact")
    )
    dim = spark.range(0, 50).select(
        F.col("id").alias("day"),
        F.when(F.col("id") < 3, "pick").otherwise("skip").alias("tag"),
    )
    dim.write.mode("overwrite").parquet(str(tmp_path / "dim"))
    f = spark.read.parquet(str(tmp_path / "fact"))
    dm = spark.read.parquet(str(tmp_path / "dim")).filter(F.col("tag") == "pick")
    joined = f.join(dm, "day")

    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    assert "dynamicpruningexpression" in plan.lower()
    # 3 picked days x 400 rows/day
    assert joined.count() == 1200


def test_weighted_downsample_broadcasts_the_share_dim(spark):
    # the per-language share table is a handful of rows: it must arrive
    # broadcast; the md5 gate itself adds no shuffle on the fact side
    plan = plan_of(spark, "weighted_downsample_by_lang")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_zscore_outliers_two_shuffles_and_broadcast_stats(spark):
    # scan 1 computes 3 stat rows (one shuffle), scan 2 joins them back
    # broadcast and re-aggregates (second shuffle) — never a fact-side
    # sort or single-partition stage
    plan = plan_of(spark, "lineitem_zscore_outliers")
    assert _shuffle_exchanges(plan) <= 2
    assert "BroadcastHashJoin" in plan
    assert "SinglePartition" not in plan


def test_price_histogram_single_shuffle(spark):
    plan = plan_of(spark, "lineitem_price_histogram")
    assert _shuffle_exchanges(plan) == 1
    assert "SinglePartition" not in plan


def test_runtime_bloom_filter_prunes_fact_side_of_selective_join(spark):
    """Runtime row-group pruning at 100 TB: when a selective dimension
    filter feeds a shuffle join, Catalyst injects a bloom-filter
    semi-filter (`might_contain`) on the fact scan so non-matching rows
    die before the shuffle, not after it.  At bench scale the
    application-side size threshold (default 10GB) gates it off, so the
    test pins the MECHANISM with the threshold lowered — the plan shape
    a real cluster gets for free."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from aie321_bigdata_movie_kpi_1m_spark.sources.readers import load_star_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_star_table(spark, SF, "lineitem")
        orders = load_star_table(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "might_contain" in plan  # fact side pre-filtered...
    assert "bloom_filter_agg" in plan  # ...by a bloom built on the dim side


def test_jaccard_self_join_reuses_the_shingle_exchange(spark):
    """The shared-shingle blocking join's two sides are the SAME shingle
    pipeline; in the shuffle-join regime (forced here — at 100 TB the
    exploded shingle set far exceeds broadcast thresholds) the second
    side must be a ReusedExchange, not a recomputation of the heaviest
    stage.  AQE performs this reuse at runtime stage dedup, so the test
    pins the statically-visible property with AQE off."""
    from aie321_bigdata_movie_kpi_1m_spark.operators.dedup import ngram_jaccard_pairs
    from aie321_bigdata_movie_kpi_1m_spark.sources.readers import load_star_table

    with _confs(
        spark,
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    ):
        pairs = ngram_jaccard_pairs(
            load_star_table(spark, SF, "documents"), threshold=0.5
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            pairs.explain("formatted")
        plan = buf.getvalue()
    assert "SortMergeJoin" in plan
    assert "ReusedExchange" in plan
    # exactly 2 real shuffles (shingle pipeline + pair groupBy): a
    # refactor that recomputes the shingle stage instead of reusing it
    # would show 3 — ReusedExchange alone can't catch that, the count can
    assert _shuffle_exchanges(plan) == 2


def test_zorder_layout_is_map_side_after_stats(spark):
    """Z-order file assignment must be a pure map-side expression: one
    broadcast 1-row stats pass plus the final per-file groupBy — never a
    global Sort or Window (the ntile-over-global-order shape would
    serialize the write through one task)."""
    plan = plan_of(spark, "zorder_file_stats")
    assert "(Sort " not in plan
    assert "Window" not in plan
    assert "SinglePartition" not in plan or "BroadcastNestedLoopJoin" in plan
    assert _shuffle_exchanges(plan) <= 2  # stats agg + final groupBy


def test_udtf_token_runs_streams_shuffle_free(spark):
    # the UDTF lateral is a Generate-shaped fan-out: a corpus-scale scan
    # must stream through ArrowEvalPythonUDTF with zero exchanges
    plan = plan_of(spark, "udtf_token_runs")
    assert "ArrowEvalPythonUDTF" in plan  # arrow-optimized, not row-pickled
    assert "Exchange" not in plan


def test_approx_topk_uses_take_ordered(spark):
    # heavy-hitter top-5 must short-circuit via TakeOrderedAndProject;
    # the rank window runs AFTER the limit (5 rows), so the only
    # SinglePartition allowed is that post-limit stage
    plan = plan_of(spark, "approx_topk_tokens")
    assert "TakeOrderedAndProject" in plan
    assert _shuffle_exchanges(plan) <= 2  # token agg + sketch agg


def test_recursive_reachability_edges_checkpointed(spark):
    # each recursive step must join the materialized edge list (an
    # ExistingRDD after localCheckpoint), never re-plan the 4-way fact
    # join through the temp view
    plan = plan_of(spark, "sql_recursive_reachability")
    assert "LogicalRDD" in plan or "ExistingRDD" in plan
    assert "Scan parquet" not in plan  # recursion sees no base tables


def test_duplicate_spans_shuffles_on_hash_with_partial_agg(spark):
    # span grouping must key the exchange on xxhash64 (8-byte keys), with
    # map-side partial aggregation so the shuffle carries one row per
    # distinct window per partition, never the raw window fan-out; the
    # second exchange is the count_distinct(doc_id) expand
    plan = plan_of(spark, "doc_duplicate_spans")
    assert "xxhash64" in plan
    assert "partial_" in plan  # map-side combine before the shuffle
    assert _shuffle_exchanges(plan) <= 2
    assert "CartesianProduct" not in plan


@pytest.mark.slow
def test_catalog_wide_no_cartesian_no_rowwise_python(spark):
    """Catalog-wide scale lint: NO query may plan a CartesianProduct
    (unkeyed all-pairs — broadcast nested-loop against a broadcast side
    is the only acceptable cross shape) or a row-wise Python UDF
    (BatchEvalPython — every Python stage must be Arrow-vectorized:
    ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas* /
    ArrowEvalPythonUDTF).  Guards every FUTURE catalog addition against
    the two worst 100 TB anti-patterns in one sweep."""
    failures = []
    for name in sorted(CATALOG):
        try:
            plan = plan_of(spark, name)
        except Exception as exc:  # a query that cannot even plan is a failure
            failures.append(f"{name}: plan build failed: {exc}")
            continue
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct in plan")
        if "BatchEvalPython" in plan:
            failures.append(f"{name}: row-wise Python UDF (BatchEvalPython)")
    assert not failures, "\n".join(failures)


def test_catalog_lint_descriptions_and_oracles(spark):
    """Registry hygiene: every catalog entry carries a real description,
    tags, and a non-empty DuckDB oracle (the zero-rows-only invariant the
    correctness gate depends on)."""
    for name, spec in CATALOG.items():
        assert spec.oracle and spec.oracle.strip(), f"{name}: empty oracle"
        assert len(spec.description) >= 20, f"{name}: missing description"
        assert spec.tags, f"{name}: no tags"


def test_llm_pipeline_two_shuffles_with_group_limit_pushdown(spark):
    # the flagship composition must stay a 2-shuffle DAG: fingerprint
    # window (with WindowGroupLimit pushing the keep-min-id rank below
    # the exchange) + source window, whose partitioning the final rollup
    # agg REUSES (no third exchange)
    plan = plan_of(spark, "llm_corpus_pipeline")
    assert _shuffle_exchanges(plan) == 2
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_cooccurrence_pmi_banded_self_join_reuses_token_stage(spark):
    """The PMI pair expansion self-joins the SAME banded-token pipeline
    (a/b aliases of bex): with AQE off and broadcast disabled the second
    side must be a ReusedExchange — a refactor that recomputes the
    explode+df-join stage would double the heaviest scan at 100 TB.  The
    df band filter and the 1-row n_docs side stay broadcast by hint."""
    with _confs(
        spark,
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    ):
        plan = plan_of(spark, "cooccurrence_pmi")
    assert "ReusedExchange" in plan
    assert "CartesianProduct" not in plan


def test_corpus_kl_drift_single_token_agg(spark):
    """KL drift scans the corpus ONCE: the per-token count aggregate
    feeds both the totals row and the divergence fold, so the second
    consumer must reuse the token-agg exchange, and the only cross shape
    is the broadcast 1-row totals (BNLJ against a broadcast side)."""
    with _confs(spark, {"spark.sql.adaptive.enabled": "false"}):
        plan = plan_of(spark, "corpus_kl_drift")
    assert "ReusedExchange" in plan
    assert "CartesianProduct" not in plan
    assert _shuffle_exchanges(plan) <= 4


def test_incremental_agg_merge_is_two_phase_mergeable(spark):
    """The incremental refresh must stay a pure partial-state merge:
    map-side combinable hash aggregates (partial + final) around bounded
    shuffles, with no join, window, or driver-side state — the shape
    that lets the base state be a stored table at 100 TB."""
    plan = plan_of(spark, "incremental_agg_merge")
    assert plan.count("HashAggregate") >= 2
    assert _shuffle_exchanges(plan) <= 3
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_snapshot_read_pushes_filters_and_prunes(spark, tmp_path):
    """Time travel must not cost scan quality: a manifest-pinned read is
    still a parquet scan, so predicates push to the footer level and the
    projection prunes unread columns — version pinning and data skipping
    compose."""
    from pyspark.sql import functions as F

    from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
        commit_snapshot,
        read_snapshot,
    )

    path = str(tmp_path / "layer")
    df = spark.range(0, 1000).selectExpr(
        "id AS k", "id % 7 AS g", "cast(id * 1.5 as double) AS v"
    )
    commit_snapshot(spark, df, path)
    r = read_snapshot(spark, path).filter(F.col("g") == 3).select("k")
    buf = io.StringIO()
    with redirect_stdout(buf):
        r.explain("formatted")
    plan = buf.getvalue()
    assert "EqualTo(g,3)" in plan  # filter reached the scan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "v:" not in read_schema  # untouched column pruned


def test_dpp_join_prunes_partitions_at_runtime(spark):
    """The partitioned-fact join must carry a dynamicpruning expression in
    the scan's PartitionFilters: the dim's selectivity exists only at
    runtime (top-2 priorities by count), so static pushdown is impossible
    and runtime partition pruning is the mechanism that keeps the fact
    scan at 2/5 partitions."""
    plan = plan_of(spark, "dpp_join_prune")
    assert "dynamicpruning" in plan.lower()
    assert "PartitionFilters" in plan


def test_join_strategy_hints_are_honored(spark):
    """Strategy hints are the manual override when Catalyst's size
    estimates are wrong at scale (a common 100 TB failure: a dim just
    over the broadcast threshold forces SMJ's sort when a shuffled hash
    join is right).  Pin that each hint actually selects its operator so
    the override lever keeps working."""
    left = spark.range(0, 10_000).selectExpr("id AS k", "id * 2 AS a")
    right = spark.range(0, 1_000).selectExpr("id AS k", "id * 3 AS b")
    with _confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        cases = {
            "merge": "SortMergeJoin",
            "shuffle_hash": "ShuffledHashJoin",
            "broadcast": "BroadcastHashJoin",
        }
        for hint, operator in cases.items():
            buf = io.StringIO()
            with redirect_stdout(buf):
                left.join(right.hint(hint), "k").explain("formatted")
            assert operator in buf.getvalue(), hint


def test_pq_adc_is_single_join(spark):
    """The ADC phase carries the whole per-query distance model through
    ONE broadcast join (nested-array lookups do the other m-1 subspaces
    expression-side); with the two exact-rerank joins that is 3 joins
    total — the sequential per-subspace form paid m + 2.  Formatted
    explain prints each operator twice (tree + details)."""
    plan = plan_of(spark, "ann_pq_topk")
    assert plan.count("BroadcastHashJoin") <= 6
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_interval_overlap_is_binned_equi_join(spark):
    """The interval overlap join must reach the executor as an EQUI-join
    on the bin id — never the quadratic shapes the raw ON-predicate
    would plan (cartesian / broadcast nested loop)."""
    plan = plan_of(spark, "interval_sessions_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "__bin" in plan  # the decomposition key is the join key


def test_association_rules_broadcasts_count_dims(spark):
    """support/confidence/lift derivation joins the (tiny) item-count
    dims as broadcasts — the pair relation must never shuffle for them."""
    plan = plan_of(spark, "association_rules_parts")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_model_quality_filter_broadcasts_weights(spark):
    """The hashed linear model's weight lookup rides a BROADCAST join
    (the trained-weights artifact is MB-scale even at 2^20 buckets);
    the exploded-token side must never shuffle on the bucket key, and
    scoring stays JVM-side — no Python in the hot path."""
    plan = plan_of(spark, "doc_model_quality_filter")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the only merge join is the final LeftOuter emitting token-less
    # docs — the weight lookup must never degrade to an Inner merge
    # join (that would shuffle the exploded token relation on bucket)
    assert "SortMergeJoin LeftOuter" in plan
    assert "SortMergeJoin Inner" not in plan


def test_indexed_bm25_prunes_positions_and_broadcasts_dims(spark):
    """Round-9 claims made checkable in the plan: (a) tf-only readers
    never pay for the positional lists — `positions` must be absent
    from every posting-scan ReadSchema (column pruning); (b) df and
    the 1-row corpus stats ride broadcasts, and the fact side is never
    a nested-loop build."""
    plan = plan_of(spark, "indexed_bm25_topk")
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "positions" not in line, line
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # top-k never a global sort


def test_indexed_phrase_search_reads_positions_only_where_needed(spark):
    """The phrase query DOES need the position lists — and nothing
    else beyond (token, doc_id, positions): tf must be pruned from its
    posting scans."""
    plan = plan_of(spark, "indexed_phrase_search")
    saw_positions = False
    for line in plan.splitlines():
        if "ReadSchema" in line and "positions" in line:
            saw_positions = True
            assert '"tf"' not in line and "tf:" not in line, line
    assert saw_positions
    assert "CartesianProduct" not in plan


def test_indexed_bm25_doclen_side_is_exchange_free(spark):
    """r9 verdict item 3: the BM25 postings ⋈ doclen join reads its BIG
    side (doclen, O(docs)) from the doc_id-bucketed serving mirror —
    with broadcast disabled (the 100 TB case: a hot term's posting
    list outgrows any broadcast), the doclen scan must report its
    bucket spec and carry NO Exchange above it; only the tiny pruned
    postings side shuffles into the bucket layout."""
    from aie321_bigdata_movie_kpi_1m_spark.plans.textops import (
        _token_index_group,
    )
    from aie321_bigdata_movie_kpi_1m_spark.plans import token_index as ti

    group = _token_index_group(spark, SF)
    pins = ti.index_pins(spark, group)
    # the fixture build wrote the mirror; the relation must be the
    # bucketed table, not the snapshot fallback
    dl_plan = (
        ti._doclen_df(spark, group, pins)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "spark_catalog.default.idx_doclen_" in dl_plan
    with _confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        df = ti.indexed_bm25_topk(
            spark, group, ["table", "part"], assert_pruned=False
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
    # the doclen scan is the bucketed table with the bucket layout live
    assert "Bucketed: true" in plan
    assert "SelectedBucketsCount" in plan
    # broadcast disabled -> SMJ on doc_id, and exactly ONE side pays a
    # doc_id exchange (the tiny pruned postings side); the bucketed
    # doclen side feeds the join Scan -> Filter -> Sort, exchange-free
    smj = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert smj, plan
    import re

    n_doc_id_exchanges = len(
        re.findall(r"Arguments: hashpartitioning\(doc_id", plan)
    )
    assert n_doc_id_exchanges == 1, plan


def test_prefix_search_scan_skips_positions(spark):
    """Prefix search aggregates tf only — the positional lists (the
    widest postings column) must be pruned from its scan."""
    plan = plan_of(spark, "indexed_prefix_search")
    for line in plan.splitlines():
        if "ReadSchema" in line and "token" in line:
            assert "positions" not in line, line


def test_ivfadc_adc_scan_prunes_embedding_column(spark):
    """The IVFADC bandwidth claim, pinned in the plan: the ADC
    candidate scan reads (cell, vec_id, code) — the 64-double embedding
    column must be absent from at least one assign-layer scan (the hot
    ADC pass), while the rerank scan still reads it."""
    plan = plan_of(spark, "ann_ivfadc_topk")
    schemas = [
        line for line in plan.splitlines()
        if "ReadSchema" in line and "code" in line
    ]
    assert schemas, plan
    adc_scans = [s for s in schemas if "embedding" not in s]
    assert adc_scans, "no embedding-free ADC scan found:\n" + "\n".join(
        schemas
    )


def test_ivfadc_residual_adc_scan_prunes_embedding_column(spark):
    """The residual tier keeps the raw tier's bandwidth contract: its
    ADC pass scores stored codes against the per-(query, cell) residual
    tables, so at least one assign-layer scan must carry code but NOT
    the 64-double embedding column."""
    plan = plan_of(spark, "ann_ivfadc_residual_topk")
    schemas = [
        line for line in plan.splitlines()
        if "ReadSchema" in line and "code" in line
    ]
    assert schemas, plan
    adc_scans = [s for s in schemas if "embedding" not in s]
    assert adc_scans, "no embedding-free ADC scan found:\n" + "\n".join(
        schemas
    )


def test_neardup_lookup_broadcasts_probe_and_query_sides(spark):
    """The admission-check lookup joins the pruned bucket rows against
    the (tiny) probe relation and the shingle-verify sides as
    broadcasts — no shuffle of the layer for a point lookup."""
    plan = plan_of(spark, "indexed_neardup_lookup")
    assert "BroadcastHashJoin" in plan
    # the bucket-layer scan reads only (bkey, doc_id): no text, no
    # signature columns persist in the layer
    for line in plan.splitlines():
        if "ReadSchema" in line and "bkey" in line:
            assert "text" not in line, line


def test_sq8_rerank_corpus_side_never_shuffles(spark):
    """ADVICE r13: sq8_topk's exact rerank joins the shortlist against
    the full-precision embeddings as the BROADCAST side, so the corpus
    is STREAMED once through a broadcast hash join — no corpus-side
    exchange/sort for the rerank, and the plan must show the hinted
    broadcast surviving even though the shortlist derives from a
    window (statistics-opaque to the planner)."""
    plan = plan_of(spark, "ann_sq8_topk")
    assert "BroadcastHashJoin" in plan
    # a SortMergeJoin anywhere in this query would mean a corpus-scale
    # relation got shuffled (both joins here are hinted broadcasts)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_batch_adc_tables_are_executor_side_expressions(spark):
    """r13 verdict item #1 in the plan: the batch IVFADC query's ADC
    distance tables must be built by expressions over broadcast model
    relations — no Python eval nodes beyond the centroid-probe pandas
    UDF, no scalar-iterator collect shapes, and the candidate scan's
    ReadSchema must keep the embedding column out of the code-join
    scan (column pruning holds in the batch shape too)."""
    plan = plan_of(spark, "ann_ivfadc_batch_topk")
    assert "CartesianProduct" not in plan
    schemas = [
        line
        for line in plan.splitlines()
        if "ReadSchema" in line and "code" in line
    ]
    assert schemas, plan
    assert [s for s in schemas if "embedding" not in s], (
        "no embedding-free ADC scan found:\n" + "\n".join(schemas)
    )


# ---------------------------------------------------------------------------
# catalog.fixture_layer: the one once-per-process fixture mechanism.  The
# decorator tests are pure Python (no Spark session).
# ---------------------------------------------------------------------------


def _layer(body):
    """A ``fixture_layer`` over ``body(sf_dir)`` plus its call log."""
    from aie321_bigdata_movie_kpi_1m_spark.plans.catalog import fixture_layer

    calls: list[str] = []

    @fixture_layer
    def build(spark, sf_dir):
        calls.append(sf_dir)
        return body(sf_dir)

    return build, calls


def test_fixture_layer_builds_once_for_concurrent_callers():
    import sys
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    def body(sf_dir):
        time.sleep(0.2)  # every other caller arrives mid-build
        return object()

    build, calls = _layer(body)
    start = threading.Barrier(8, timeout=5)

    def call(_):
        start.wait()
        return build(None, SF)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(pool.map(call, range(8)))
    finally:
        sys.setswitchinterval(interval)
    assert calls == [SF]
    assert all(g is got[0] for g in got)
    # same scale tag, same object; __wrapped__ is the undecorated builder
    assert build(None, SF + "/") is got[0]
    assert build.__wrapped__(None, SF) is not got[0] and len(calls) == 2


@pytest.mark.parametrize("split", ["scales", "builders"])
def test_fixture_layer_keys_do_not_wait_on_each_other(split):
    import threading
    from concurrent.futures import ThreadPoolExecutor

    # each build waits for the other to be building too: one lock shared
    # by both keys would make this barrier time out
    both = threading.Barrier(2, timeout=5)

    def body(sf_dir):
        both.wait()
        return sf_dir

    a, _ = _layer(body)
    if split == "scales":
        jobs = [(a, SF), (a, "sf0.01")]
    else:
        jobs = [(a, SF), (_layer(body)[0], SF)]
    with ThreadPoolExecutor(2) as pool:
        got = list(pool.map(lambda job: job[0](None, job[1]), jobs))
    assert got == [sf for _, sf in jobs]


def test_fixture_layer_records_nothing_when_the_build_raises():
    import threading

    def body(sf_dir):
        if len(calls) == 1:
            raise RuntimeError("build failed")
        return "built"

    build, calls = _layer(body)
    with pytest.raises(RuntimeError, match="build failed"):
        build(None, SF)
    # the lock was released: another thread's call builds again, and
    # does not hang
    out: list[str] = []
    t = threading.Thread(target=lambda: out.append(build(None, SF)))
    t.start()
    t.join(5)
    assert not t.is_alive() and out == ["built"]
    assert build(None, SF) == "built" and len(calls) == 2


def test_no_hand_rolled_fixture_registries():
    """Fixture layers are built through catalog.fixture_layer only."""
    import pathlib
    import re

    from aie321_bigdata_movie_kpi_1m_spark.plans import catalog

    registry = re.compile(
        r"^(_[A-Z0-9_]+_BUILT\b|_AUTO_MAINT_STATS|_(IVF|PQ)_INDEX_CACHE)"
    )
    hits = [
        f"{path.name}:{n}: {line}"
        for path in sorted(pathlib.Path(catalog.__file__).parent.glob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if registry.match(line)
    ]
    assert not hits, "\n".join(hits)


def test_one_snapshot_manifest_writer():
    """Version manifests (``_manifests/v{N}.json``) are written by
    ``snapshots._write_manifest`` only: exactly one ``_write_text`` call
    in ``sources/snapshots.py`` targets that path."""
    import ast
    import pathlib

    from aie321_bigdata_movie_kpi_1m_spark.sources import snapshots

    tree = ast.parse(pathlib.Path(snapshots.__file__).read_text())
    sites = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "_write_text"
        and "_MANIFEST_DIR}/v" in ast.unparse(node.args[1])
    ]
    assert len(sites) == 1, f"manifest _write_text calls at lines {sites}"


def test_snapshot_reads_declare_the_recorded_schema():
    """Snapshot reads declare the manifest's schema record: no
    ``mergeSchema`` read or ``merge_schema`` knob is left in the snapshot
    layer or the plans, no parquet read bypasses ``sources/readers.py``,
    and ``sources/snapshots.py`` has exactly one declared-schema read
    (``_read_files``)."""
    import pathlib
    import re

    import aie321_bigdata_movie_kpi_1m_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    files = {p.relative_to(root).as_posix(): p.read_text()
             for p in sorted(root.rglob("*.py"))}
    merge_scoped = [
        f for f in files
        if f in ("sources/snapshots.py", "sources/snapshot_batch.py")
        or f.startswith("plans/")
    ]
    bare_read = re.compile(r"\.read\s*\.\s*(parquet|option)\(")
    hits = [
        f"{f}:{n}: {line.strip()}"
        for f in files
        for n, line in enumerate(files[f].splitlines(), 1)
        if (f in merge_scoped and re.search(r"mergeSchema|merge_schema", line))
        or (f != "sources/readers.py" and bare_read.search(line))
    ]
    assert not hits, "\n".join(hits)
    assert files["sources/snapshots.py"].count("spark.read.schema(") == 1


def test_scale_tags_come_from_catalog_tag():
    """Plans name a scale's scratch directory with catalog._tag, the key
    fixture_layer caches under, never with a raw basename of sf_dir
    (``sf0.001`` vs ``sf0_001``)."""
    import inspect
    import pathlib
    import re

    from aie321_bigdata_movie_kpi_1m_spark.plans import catalog

    hand_rolled = re.compile(r"basename\(.*sf_dir")
    tag_def = inspect.getsource(catalog._tag).splitlines()
    hits = [
        f"{path.name}:{n}: {line}"
        for path in sorted(pathlib.Path(catalog.__file__).parent.glob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if hand_rolled.search(line)
        and not (path.name == "catalog.py" and line in tag_def)
    ]
    assert not hits, "\n".join(hits)


def test_compact_roundtrip_rebuilds_a_wiped_input(spark):
    """The 48-file compaction input is a cached fixture layer, but a wipe
    of its directory mid-process triggers a rebuild, not a
    missing-input failure."""
    import shutil

    from aie321_bigdata_movie_kpi_1m_spark.plans.catalog import _tag
    from aie321_bigdata_movie_kpi_1m_spark.plans.warehouse import _SCRATCH

    fn = CATALOG["compact_layer_roundtrip"].fn
    first = sorted(map(tuple, fn(spark, SF).collect()))
    shutil.rmtree(f"{_SCRATCH}/compact/{_tag(SF)}/small")
    assert sorted(map(tuple, fn(spark, SF).collect())) == first
    assert first
