"""Property-based tests (hypothesis): the composite operators whose edge
cases are easiest to get wrong are checked against independent reference
implementations on randomized inputs — pandas ``merge_asof`` for the
as-of join, a pure-Python set computation for n-gram Jaccard.

One shared Spark session; small bounded inputs keep each example fast,
``deadline=None`` because Spark job latency is not the property under
test.
"""

from __future__ import annotations

import pytest

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aie321_bigdata_movie_kpi_1m_spark.operators.asof import asof_join
from aie321_bigdata_movie_kpi_1m_spark.operators.dedup import ngram_jaccard_pairs

import os

# HYPOTHESIS_EXAMPLES=100 pytest ... for a deeper one-off fuzz; the CI
# default stays small because each example runs Spark jobs
_SETTINGS = dict(
    max_examples=int(os.environ.get("HYPOTHESIS_EXAMPLES", "12")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@st.composite
def asof_case(draw):
    keys = draw(st.lists(st.integers(0, 2), min_size=1, max_size=4, unique=True))
    lefts = draw(
        st.lists(
            st.tuples(st.sampled_from(keys), st.integers(0, 50)),
            min_size=1,
            max_size=12,
        )
    )
    rights = draw(
        st.lists(
            st.tuples(st.sampled_from(keys), st.integers(0, 50)),
            min_size=0,
            max_size=12,
        )
    )
    # right side deduped per (key, time): ties within the right side are
    # documented as caller's responsibility (asof.py docstring)
    rights = list({(k, t) for k, t in rights})
    return lefts, rights


@given(asof_case())
@settings(**_SETTINGS)
@pytest.mark.slow
def test_asof_join_matches_pandas_merge_asof(spark, case):
    lefts, rights = case
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lefts)], "k int, t long, lid int"
    )
    right = spark.createDataFrame(
        [(k, t, 1000 + i) for i, (k, t) in enumerate(rights)],
        "k int, t long, rid int",
    ) if rights else spark.createDataFrame([], "k int, t long, rid int")

    got = {
        (r["lid"], r["rid"])
        for r in asof_join(
            left, right, "k", left_time="t", right_time="t", payload=["rid"]
        ).collect()
    }

    lp = pd.DataFrame([(k, t, i) for i, (k, t) in enumerate(lefts)],
                      columns=["k", "t", "lid"]).sort_values("t", kind="stable")
    rp = pd.DataFrame([(k, t, 1000 + i) for i, (k, t) in enumerate(rights)],
                      columns=["k", "t", "rid"]).sort_values("t", kind="stable")
    if len(rp):
        merged = pd.merge_asof(lp, rp, on="t", by="k", direction="backward")
        expect = {
            (int(r.lid), None if pd.isna(r.rid) else int(r.rid))
            for r in merged.itertuples()
        }
    else:
        expect = {(int(r.lid), None) for r in lp.itertuples()}
    assert got == expect


@given(
    st.lists(
        st.lists(st.sampled_from("abcde"), min_size=0, max_size=12).map(" ".join),
        min_size=2,
        max_size=8,
    )
)
@settings(**_SETTINGS)
def test_ngram_jaccard_matches_python_sets(spark, texts):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["i"], r["j"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, n=2, threshold=0.0).collect()
    }

    def shingles(t: str) -> set[str]:
        toks = t.split()
        if len(toks) < 2:
            # word_shingles sentinel: sub-n-token docs contribute the
            # whole-token-join shingle ('' for empty docs)
            return {" ".join(toks)}
        return {" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)}

    expect = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            a, b = shingles(texts[i]), shingles(texts[j])
            if a & b:
                expect[(i, j)] = round(len(a & b) / len(a | b), 4)
    assert got == expect


@given(
    st.lists(
        st.integers(min_value=0, max_value=30),  # token count per doc
        min_size=1,
        max_size=20,
    ),
    st.integers(min_value=1, max_value=10),  # budget
)
@settings(**_SETTINGS)
def test_pack_sequences_invariants(spark, token_counts, budget):
    from aie321_bigdata_movie_kpi_1m_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in enumerate(token_counts)],
        "doc_id long, text string",
    )
    rows = pack_sequences(docs, budget=budget, n_shards=2).collect()
    # every doc assigned exactly once, token mass conserved
    assert sorted(r["doc_id"] for r in rows) == list(range(len(token_counts)))
    assert sum(r["n_tokens"] for r in rows) == sum(token_counts)
    # within a shard (id order): bins start at 0 and never decrease, and
    # each bin's starting offset is below the next budget boundary
    by_shard: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        by_shard.setdefault(r["shard"], []).append(r)
    for shard_rows in by_shard.values():
        cum = 0
        prev_bin = 0
        for r in shard_rows:
            assert r["bin_id"] == cum // budget
            assert r["bin_id"] >= prev_bin
            prev_bin = r["bin_id"]
            cum += r["n_tokens"]


@st.composite
def quota_case(draw):
    n = draw(st.integers(1, 30))
    sizes = draw(st.lists(st.integers(0, 400), min_size=n, max_size=n))
    budget = draw(st.integers(0, 3000))
    # cut points partitioning [0, n) into ordered micro-batches
    cuts = draw(st.sets(st.integers(1, max(1, n - 1)), max_size=5))
    return sizes, budget, sorted(cuts)


@given(quota_case())
@settings(**_SETTINGS)
def test_quota_admission_is_batch_split_invariant(case):
    """streaming/quota.py correctness core: folding the admission kernel
    over ANY split of a doc_id-ordered stream into micro-batches yields
    exactly the single-pass prefix-sum admission — the invariant that
    makes the streaming operator equal its batch oracle regardless of
    how the source chops batches.  Pure-pandas kernel, no Spark jobs."""
    import pandas as pd

    from aie321_bigdata_movie_kpi_1m_spark.streaming.quota import _admit

    sizes, budget, cuts = case
    docs = [(i, "s", n) for i, n in enumerate(sizes)]

    # reference: single-pass prefix sum
    cum, expected = 0, []
    for i, _, n in docs:
        cum += n
        if cum <= budget:
            expected.append((i, "s", n, cum))

    # kernel folded over the micro-batch split, state threaded through
    bounds = [0, *cuts, len(docs)]
    spent, got = 0, []
    for lo, hi in zip(bounds, bounds[1:]):
        frame = pd.DataFrame(
            docs[lo:hi], columns=["doc_id", "source", "n_chars"]
        )
        spent, out = _admit(spent, [frame], "s", budget)
        got.extend(out)
    assert got == expected
    assert spent == sum(sizes)


# ---------------------------------------------------------------------------
# Corpus-stats operators vs pure-Python references
# ---------------------------------------------------------------------------

_WORDS = ["alpha", "beta", "gamma", "delta", "eps"]


@st.composite
def corpus_case(draw):
    n = draw(st.integers(2, 10))
    docs = []
    for i in range(n):
        toks = draw(st.lists(st.sampled_from(_WORDS), min_size=0, max_size=8))
        lang = draw(st.sampled_from(["en", "xx"]))
        docs.append((i, lang, " ".join(toks)))
    return docs


@given(corpus_case())
@settings(**_SETTINGS)
def test_kl_drift_matches_python_reference(spark, docs):
    import math
    from collections import Counter

    from pyspark.sql import functions as F

    from aie321_bigdata_movie_kpi_1m_spark.operators.corpus_stats import (
        kl_drift_summary,
    )

    df = spark.createDataFrame(docs, "doc_id long, lang string, text string")
    row = kl_drift_summary(df, F.col("lang") == "en").collect()[0]

    ca, cb = Counter(), Counter()
    for _, lang, text in docs:
        (ca if lang == "en" else cb).update(text.split())
    vocab = set(ca) | set(cb)
    v, ta, tb = len(vocab), sum(ca.values()), sum(cb.values())
    if v == 0:
        # empty corpus: the scalar fold runs over zero vocabulary rows, so
        # every output is NULL; the catalog query never sees this
        # (documents is non-empty)
        assert row["vocab_size"] is None
        return
    assert row["vocab_size"] == v
    assert row["tokens_a"] == ta and row["tokens_b"] == tb
    kl_ab = kl_ba = js = 0.0
    for t in vocab:
        p = (ca[t] + 1) / (ta + v)
        q = (cb[t] + 1) / (tb + v)
        kl_ab += p * math.log(p / q)
        kl_ba += q * math.log(q / p)
        js += 0.5 * p * math.log(2 * p / (p + q)) + 0.5 * q * math.log(
            2 * q / (p + q)
        )
    assert abs(row["kl_ab"] - kl_ab) <= 2e-4
    assert abs(row["kl_ba"] - kl_ba) <= 2e-4
    assert abs(row["js_divergence"] - js) <= 2e-4
    # information-theoretic invariants (add-one smoothing keeps all
    # distributions strictly positive): KL >= 0, 0 <= JS <= ln 2
    assert row["kl_ab"] >= -1e-9 and row["kl_ba"] >= -1e-9
    assert -1e-9 <= row["js_divergence"] <= math.log(2) + 1e-9


@given(corpus_case(), st.integers(1, 4), st.integers(4, 10))
@settings(**_SETTINGS)
def test_pmi_pairs_match_python_reference(spark, docs, min_df, max_df):
    import math
    from collections import Counter
    from itertools import combinations

    from aie321_bigdata_movie_kpi_1m_spark.operators.corpus_stats import pmi_pairs

    df = spark.createDataFrame(docs, "doc_id long, lang string, text string")
    got = {
        (r["t1"], r["t2"]): (r["n_both"], r["pmi"])
        for r in pmi_pairs(
            df, min_df=min_df, max_df=max_df, min_both=1
        ).collect()
    }

    doc_tokens = [set(text.split()) for _, _, text in docs]
    dfs = Counter(t for ts in doc_tokens for t in ts)
    n_docs = sum(1 for ts in doc_tokens if ts)  # docs with >=1 token
    band = {t for t, c in dfs.items() if min_df <= c <= max_df}
    want = Counter()
    for ts in doc_tokens:
        for t1, t2 in combinations(sorted(ts & band), 2):
            want[(t1, t2)] += 1
    assert set(got) == set(want)
    for (t1, t2), (n_both, pmi) in got.items():
        assert n_both == want[(t1, t2)]
        ref = math.log(n_both * n_docs / (dfs[t1] * dfs[t2]))
        assert abs(pmi - ref) <= 2e-4
        # banded pairs can't exceed either member's df
        assert n_both <= min(dfs[t1], dfs[t2])


@st.composite
def kpi_rows(draw):
    n = draw(st.integers(1, 20))
    rows = []
    for _ in range(n):
        rows.append(
            (
                draw(st.sampled_from(["A", "N", "R"])),
                draw(
                    st.floats(
                        0, 100, allow_nan=False, allow_infinity=False, width=32
                    )
                ),
                draw(
                    st.floats(
                        0, 9999, allow_nan=False, allow_infinity=False, width=32
                    )
                ),
                draw(st.integers(0, 3)),  # split bucket
            )
        )
    return rows


@given(kpi_rows())
@settings(**_SETTINGS)
@pytest.mark.slow
def test_incremental_kpi_merge_is_split_invariant(spark, rows):
    """Merging per-split partial states == the single-pass aggregate, for
    ANY partition of the rows into up to 4 slices (the daily-refresh
    correctness contract: base state + delta must equal a full rescan)."""
    from pyspark.sql import functions as F

    from aie321_bigdata_movie_kpi_1m_spark.plans.warehouse import (
        kpi_partial_state,
        merge_kpi_states,
    )

    df = spark.createDataFrame(
        rows,
        "l_returnflag string, l_quantity double, l_extendedprice double, bucket int",
    )
    whole = kpi_partial_state(df)
    merged = merge_kpi_states(
        *[kpi_partial_state(df.filter(F.col("bucket") == b)) for b in range(4)]
    )
    key = lambda r: r["l_returnflag"]  # noqa: E731
    assert sorted(map(tuple, whole.collect()), key=lambda t: t[0]) == sorted(
        map(tuple, merged.collect()), key=lambda t: t[0]
    )


@st.composite
def drift_case(draw):
    cats = ["view", "click", "purchase", "error"]
    ref = [(c, draw(st.integers(1, 50))) for c in draw(
        st.lists(st.sampled_from(cats), min_size=1, max_size=4, unique=True)
    )]
    n_groups = draw(st.integers(1, 4))
    obs = []
    for g in range(n_groups):
        for c in draw(
            st.lists(st.sampled_from(cats), min_size=0, max_size=4, unique=True)
        ):
            obs.append((g, c, draw(st.integers(1, 30))))
    return ref, obs


@given(drift_case())
@settings(**_SETTINGS)
def test_grouped_kl_vs_reference_matches_python(spark, case):
    """Drift operator vs pure-Python reference, covering the dropped
    out-of-domain-category path and zero-count smoothing."""
    import math

    from aie321_bigdata_movie_kpi_1m_spark.operators.corpus_stats import (
        grouped_kl_vs_reference,
    )

    ref, obs = case
    ref_df = spark.createDataFrame(ref, "event_type string, cr long")
    obs_df = spark.createDataFrame(obs, "g int, event_type string, c long")
    got = {
        r["g"]: (r["n_events"], r["kl_vs_ref"])
        for r in grouped_kl_vs_reference(
            obs_df, ref_df, group_col="g", cat_col="event_type"
        ).collect()
    }

    ref_d = dict(ref)
    n, v = sum(ref_d.values()), len(ref_d)
    groups = {g for g, _, _ in obs}
    assert set(got) == groups
    for g in groups:
        counts = {c: k for gg, c, k in obs if gg == g}
        dom = {c: counts.get(c, 0) for c in ref_d}  # out-of-domain dropped
        n_w = sum(dom.values())
        kl = sum(
            ((c + 1) / (n_w + v))
            * math.log(((c + 1) / (n_w + v)) / ((ref_d[t] + 1) / (n + v)))
            for t, c in dom.items()
        )
        assert got[g][0] == n_w
        assert abs(got[g][1] - kl) <= 2e-4
        assert got[g][1] >= -1e-9  # KL non-negativity


@st.composite
def snapshot_ops(draw):
    ops = []
    for _ in range(draw(st.integers(1, 5))):
        mode = draw(st.sampled_from(["overwrite", "append"]))
        rows = draw(
            st.lists(st.integers(0, 9), min_size=0, max_size=4)
        )
        ops.append((mode, rows))
    return ops


@given(snapshot_ops())
@settings(max_examples=int(os.environ.get("HYPOTHESIS_EXAMPLES", "8")),
          deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@pytest.mark.slow
def test_snapshot_layer_matches_model(spark, tmp_path_factory, ops):
    """Model-based check of the versioned layer: after ANY sequence of
    overwrite/append commits, every historical version reads back exactly
    the multiset the in-memory model predicts (time travel is lossless,
    appends never mutate history)."""
    from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
        commit_snapshot,
        read_snapshot,
    )

    path = str(tmp_path_factory.mktemp("snap") / "layer")
    model: list[list[int]] = []  # model[v-1] = expected multiset
    for mode, rows in ops:
        df = spark.createDataFrame(
            [(r,) for r in rows], "k long"
        ) if rows else spark.createDataFrame([], "k long")
        commit_snapshot(spark, df, path, mode=mode)
        prev = model[-1] if (mode == "append" and model) else []
        model.append(sorted(prev + rows))
    for v, expected in enumerate(model, start=1):
        got = sorted(r["k"] for r in read_snapshot(spark, path, v).collect())
        assert got == expected, f"version {v}"


@st.composite
def merge_case(draw):
    base_keys = draw(
        st.lists(st.integers(0, 30), min_size=1, max_size=12, unique=True)
    )
    deltas = [
        draw(st.lists(st.integers(0, 40), min_size=1, max_size=6, unique=True))
        for _ in range(draw(st.integers(1, 3)))
    ]
    with_stats = draw(st.booleans())
    return base_keys, deltas, with_stats


@given(merge_case())
@settings(max_examples=int(os.environ.get("HYPOTHESIS_EXAMPLES", "8")),
          deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@pytest.mark.slow
def test_merge_snapshot_matches_model(spark, tmp_path_factory, case):
    """Model-based check of copy-on-write MERGE: after ANY sequence of
    keyed upserts, every version reads back exactly the dict the model
    predicts — updates replace, inserts add, untouched keys persist, and
    history is immutable.  Runs both with key stats (file-pruned rewrites)
    and without (conservative rewrite-all), which must be semantically
    identical."""
    from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
        commit_snapshot,
        merge_snapshot,
        read_snapshot,
    )

    base_keys, deltas, with_stats = case
    path = str(tmp_path_factory.mktemp("merge") / "layer")
    base = spark.createDataFrame(
        [(k, "v0") for k in base_keys], "k long, val string"
    ).repartitionByRange(3, "k")
    commit_snapshot(
        spark, base, path, stats_cols=["k"] if with_stats else None
    )
    model = {k: "v0" for k in base_keys}
    history = [dict(model)]
    for i, dk in enumerate(deltas, start=1):
        delta = spark.createDataFrame(
            [(k, f"v{i}") for k in dk], "k long, val string"
        )
        report = merge_snapshot(
            spark, delta, path, "k", stats_cols=["k"] if with_stats else None
        )
        assert report["version"] == i + 1
        model.update({k: f"v{i}" for k in dk})
        history.append(dict(model))
    for v, expected in enumerate(history, start=1):
        got = {
            r["k"]: r["val"]
            for r in read_snapshot(spark, path, v).collect()
        }
        assert got == expected, f"version {v} (stats={with_stats})"


@st.composite
def ivm_case(draw):
    segs = ["A", "B", "C"]
    v1 = [
        (draw(st.integers(1, 50)), draw(st.sampled_from(segs)))
        for _ in range(draw(st.integers(0, 10)))
    ]
    v2 = [
        (draw(st.integers(1, 50)), draw(st.sampled_from(segs)))
        for _ in range(draw(st.integers(0, 10)))
    ]
    return v1, v2


@given(ivm_case())
@settings(**_SETTINGS)
def test_signed_cdf_fold_refreshes_any_aggregate(spark, case):
    """IVM-with-retractions invariant (the math behind
    snapshot_incremental_refresh): for ANY v1 and v2 multisets,
    agg(v1) + signed-fold(multiset-diff(v1, v2)) == agg(v2), with
    zero-count groups retracting out."""
    from collections import Counter

    from pyspark.sql import functions as F

    v1, v2 = case
    diff = Counter(v2) - Counter(v1)   # inserts with multiplicity
    rm = Counter(v1) - Counter(v2)     # deletes with multiplicity
    changes = [(k, s, "insert") for (k, s), n in diff.items() for _ in range(n)]
    changes += [(k, s, "delete") for (k, s), n in rm.items() for _ in range(n)]

    schema2 = "k long, seg string"
    base_df = (
        spark.createDataFrame(v1, schema2)
        if v1
        else spark.createDataFrame([], schema2)
    )
    base = base_df.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("k").alias("key_sum")
    )
    schema3 = "k long, seg string, change_type string"
    ch_df = (
        spark.createDataFrame(changes, schema3)
        if changes
        else spark.createDataFrame([], schema3)
    )
    sign = F.when(F.col("change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    delta = ch_df.withColumn("__s", sign).groupBy("seg").agg(
        F.sum("__s").alias("n_rows"),
        F.sum(F.col("__s") * F.col("k")).alias("key_sum"),
    )
    refreshed = {
        r["seg"]: (r["n_rows"], r["key_sum"])
        for r in base.unionByName(delta)
        .groupBy("seg")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("key_sum").cast("long").alias("key_sum"),
        )
        .filter(F.col("n_rows") > 0)
        .collect()
    }

    expect = {}
    for seg in {s for _, s in v2}:
        ks = [k for k, s in v2 if s == seg]
        expect[seg] = (len(ks), sum(ks))
    assert refreshed == expect




@pytest.mark.parametrize("lock_provider", ["in_process", "file_lock"])
@pytest.mark.slow
def test_concurrent_writers_serialize_through_occ_retry(
    spark, tmp_path_factory, lock_provider
):
    """Multi-writer commit fuzz: 4 writer THREADS race 20 ops each
    (appends + keyed merges) through ``retry_commit`` against one layer,
    PARAMETRIZED over both commit-lock providers (the in-process
    threading.Lock default and the cross-process FileCommitLock marker
    file — VERDICT r6 #7).  The surviving history must be SERIALIZABLE:

    - version numbers are contiguous 1..N with no holes (no lost or
      duplicated commit);
    - every appended row lands exactly once (no lost update, no replay
      double-ingest);
    - each writer's merge key holds the value of that writer's LAST
      merge op (per-writer keys are disjoint, so any serial order of
      the interleaving agrees);
    - the head's txn map records each writer's final op index
      (high-water marks are monotone and never regress).

    Deterministic op schedule (seeded per writer); the thread
    interleaving itself is the fuzzed dimension, so the assertions are
    interleaving-independent properties."""
    import random
    import threading

    from aie321_bigdata_movie_kpi_1m_spark.sources.snapshots import (
        _manifest_raw,
        commit_snapshot,
        merge_snapshot,
        read_snapshot,
        retry_commit,
        snapshot_versions,
    )

    import aie321_bigdata_movie_kpi_1m_spark.sources.snapshots as snap

    prev = None
    if lock_provider == "file_lock":
        prev = snap.set_commit_lock_provider(snap.FileCommitLock())

    path = str(tmp_path_factory.mktemp("occ") / "layer")
    # bootstrap: one row per writer's merge key, known initial value
    N_WRITERS, N_OPS = 4, 20
    init = [(w * 1000, "init", -1) for w in range(N_WRITERS)]
    commit_snapshot(
        spark,
        spark.createDataFrame(init, "k long, v string, op long"),
        path,
        stats_cols=["k"],
    )
    errors: list = []
    expected_rows: dict[int, set] = {w: set() for w in range(N_WRITERS)}
    last_merge_op: dict[int, int] = {}

    def writer(w: int) -> None:
        rng = random.Random(1000 + w)
        try:
            for op in range(N_OPS):
                if rng.random() < 0.5:
                    # APPEND of a unique tagged row
                    k = w * 1000 + 100 + op
                    expected_rows[w].add(k)
                    retry_commit(
                        lambda k=k, op=op: commit_snapshot(
                            spark,
                            spark.createDataFrame(
                                [(k, f"w{w}", op)], "k long, v string, op long"
                            ),
                            path,
                            mode="append",
                            stats_cols=["k"],
                            txn=(f"w{w}", op),
                        ),
                        attempts=60,
                    )
                else:
                    # MERGE on the writer's own key
                    last_merge_op[w] = op
                    retry_commit(
                        lambda op=op: merge_snapshot(
                            spark,
                            spark.createDataFrame(
                                [(w * 1000, f"w{w}", op)],
                                "k long, v string, op long",
                            ),
                            path,
                            "k",
                            stats_cols=["k"],
                            txn=(f"w{w}", op),
                        ),
                        attempts=60,
                    )
        except Exception as e:  # surface thread failures to the test
            errors.append((w, e))

    try:
        threads = [
            threading.Thread(target=writer, args=(w,))
            for w in range(N_WRITERS)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        if prev is not None:
            snap.set_commit_lock_provider(prev)
    assert not errors, errors

    versions = snapshot_versions(spark, path)
    assert versions == list(range(1, len(versions) + 1))  # no holes
    rows = read_snapshot(spark, path).collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r["k"], []).append((r["v"], r["op"]))
    # every appended row exactly once
    for w in range(N_WRITERS):
        for k in expected_rows[w]:
            assert by_key.get(k) == [(f"w{w}", k - w * 1000 - 100)], (
                w,
                k,
                by_key.get(k),
            )
    # each merge key holds the writer's LAST merge op
    for w in range(N_WRITERS):
        want = (
            [("init", -1)]
            if w not in last_merge_op
            else [(f"w{w}", last_merge_op[w])]
        )
        assert by_key.get(w * 1000) == want, (w, by_key.get(w * 1000))
    # txn high-water marks: each writer's final op index, never behind
    txn = _manifest_raw(spark, path, versions[-1]).get("txn", {})
    for w in range(N_WRITERS):
        assert int(txn[f"w{w}"]) == N_OPS - 1
    # total rows: bootstrap keys + all appends
    assert len(rows) == N_WRITERS + sum(
        len(v) for v in expected_rows.values()
    )


# ---------------------------------------------------------------------------
# Manifest pruning is lossless (sources/pruning.py).  Pure Python, no Spark
# session: random layers of int-or-string files with NULLs, missing and
# [None, None] stats, segments with aggregated entry stats and Bloom
# unions, and eq/range/IN predicates whose bounds may not be orderable
# against the stats.
# ---------------------------------------------------------------------------

_PRUNE_BLOOM = {"bloom_col": "c", "bloom_m": 64, "bloom_k": 3}
_PRUNE_VALUE = st.one_of(st.integers(-20, 20), st.text("abc", max_size=2))


@st.composite
def pruning_case(draw):
    segments = []
    for _ in range(draw(st.integers(1, 3))):
        # one write per segment: its files share the column's type
        value = draw(
            st.sampled_from([st.integers(-20, 20), st.text("abc", max_size=2)])
        )
        segments.append(
            draw(
                st.lists(
                    st.tuples(
                        st.lists(st.none() | value, max_size=5),
                        st.booleans(),  # stats recorded
                        st.booleans(),  # bloom recorded
                    ),
                    min_size=1,
                    max_size=4,
                )
            )
        )
    pred = st.one_of(
        st.tuples(
            st.sampled_from(["eq", "gt", "gte", "lt", "lte"]), _PRUNE_VALUE
        ),
        st.tuples(st.just("in"), st.lists(_PRUNE_VALUE, max_size=3)),
    )
    return segments, draw(st.lists(pred, min_size=1, max_size=3))


def _pruning_layer(segments):
    """(manifest, segment files by path, rows by file) for a layer."""
    from aie321_bigdata_movie_kpi_1m_spark.sources import snapshots
    from aie321_bigdata_movie_kpi_1m_spark.sources.pruning import bits_to_hex
    from aie321_bigdata_movie_kpi_1m_spark.sources.snapshot_batch import (
        bloom_probe_positions,
    )

    m = {"format": 2, "segments": [], **_PRUNE_BLOOM}
    seg_files, rows_by_file = {}, {}
    m_bits, k = _PRUNE_BLOOM["bloom_m"], _PRUNE_BLOOM["bloom_k"]
    for si, files in enumerate(segments):
        bases, stats, blooms = [], {}, {}
        for fi, (rows, has_stats, has_bloom) in enumerate(files):
            base = f"s{si}f{fi}.parquet"
            bases.append(base)
            rows_by_file[f"data/{base}"] = rows
            vals = [v for v in rows if v is not None]
            if has_stats:
                stats[base] = {
                    "c": [min(vals), max(vals)] if vals else [None, None]
                }
            if has_bloom:
                blooms[base] = sorted(
                    {
                        b
                        for v in vals
                        for b in bloom_probe_positions(v, m=m_bits, k=k)
                    }
                )
        seg_path = f"segments/s{si}.json"
        seg_files[seg_path] = {
            "files": [f"data/{b}" for b in bases],
            "stats": stats,
            "blooms": blooms,
        }
        union = sorted({b for bs in blooms.values() for b in bs})
        m["segments"].append(
            {
                "path": seg_path,
                "stats": snapshots._aggregate_seg_stats(bases, stats),
                "bloom_union": (
                    bits_to_hex(union)
                    if all(b in blooms for b in bases)
                    else None
                ),
            }
        )
    return m, seg_files, rows_by_file


def _row_may_match(v, op, bound) -> bool:
    """SQL truth of ``v <op> bound`` for a non-NULL match; a comparison
    Python cannot order counts as a possible match (nothing proves
    otherwise)."""
    if v is None:
        return False
    try:
        if op == "eq":
            return v == bound
        if op == "gt":
            return v > bound
        if op == "gte":
            return v >= bound
        if op == "lt":
            return v < bound
        if op == "lte":
            return v <= bound
        return v in bound
    except TypeError:
        return True


@given(pruning_case())
@settings(max_examples=300, deadline=None)
def test_manifest_pruning_is_lossless(case):
    from aie321_bigdata_movie_kpi_1m_spark.sources.pruning import (
        _Pred,
        plan_files,
    )
    from aie321_bigdata_movie_kpi_1m_spark.sources.snapshot_batch import (
        _bloom_pos_lists,
    )

    segments, raw_preds = case
    m, seg_files, rows_by_file = _pruning_layer(segments)
    preds = [_Pred(op, "c", bound) for op, bound in raw_preds]
    kept, _ = plan_files(
        m, preds, _bloom_pos_lists(m, preds), seg_files.__getitem__
    )
    for f, rows in rows_by_file.items():
        if any(
            all(_row_may_match(v, p.op, p.value) for p in preds)
            for v in rows
        ):
            assert f in kept, (f, rows, preds)
