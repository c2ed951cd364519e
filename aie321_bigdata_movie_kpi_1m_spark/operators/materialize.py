"""Evaluate-once materialization barrier for expensive subtrees.

Spark re-plans a DataFrame subtree once per consumer: AQE's exchange
reuse recovers the map side of a duplicated aggregation, but the
reduce-side final aggregate and everything above it re-runs per
consumer, and subtrees under differing projections are not deduped at
all.  ``materialize(df)`` is the one place the repo's
evaluate-once-vs-fault-tolerance trade is made: ``localCheckpoint`` —
executor-local blocks, lineage truncated.  An A/B (one session,
alternating variants, noop-timed at sf0.1; OPTIMIZATION_r16.md
"materialize strategy") measured it consistently FASTER than a
nonce-salted ``persist(MEMORY_AND_DISK)``: minhash 2.94-3.01 s vs
3.59 s, dedup_clusters_star 4.4-4.8 s vs 6.4 s, simhash 2.7-2.9 s vs
3.8 s — the columnar InMemoryRelation's encode-on-write and
CacheManager bookkeeping cost more than the row-form block store for
these shuffle-sized, consumed-2-4-times relations.  The trade: on a
real cluster a lost executor's blocks have NO recompute path, so the
job fails instead of retrying.

``eager=True`` materializes at the barrier instead of at the first
consuming job — for relations feeding an ITERATIVE loop (connected
components' symmetric edge set), where the first loop round otherwise
charges the materialization to itself and the measured A/B favors
eager (dedup_clusters_star 4.40 vs 4.81 s).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame, *, eager: bool = False) -> DataFrame:
    """Return ``df`` behind an evaluate-once barrier (see module doc)."""
    return df.localCheckpoint(eager=eager)
