"""Query catalog: every implemented capability as a named (Spark plan,
DuckDB oracle SQL) pair over the driver testdata tables.

This is the registry behind ``__spark_entry__.queries()`` /
``oracle_sql()``.  Conventions (driver contract, SURVEY.md §5):

- every computed column is aliased identically in the Spark plan and the
  oracle SQL (the driver sorts columns by name before value-hashing);
- non-integral aggregated doubles are rounded to a fixed number of
  decimals on BOTH sides (sum order differs across engines; integral
  sums are exact and need no rounding — see plans/movie_view.py);
- oracles are ANSI-DuckDB over the pre-registered views ``region nation
  customer supplier part orders lineitem events documents embeddings``.
"""

from __future__ import annotations

import functools
import os
import re
import threading
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import kpi
from ..operators.materialize import materialize
from ..sources.readers import load_star_table
from .movie_view import (
    MOVIE_FACTS_ORACLE_CTE,
    MOVIE_GENRE_FACT_ORACLE_CTE,
    movies_raw_from_star,
)

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    """One catalog entry.

    ``oracle`` is None for genuinely non-SQL-expressible ops (the driver
    then records a weaker rows-only check — keep these rare).
    """

    fn: QueryFn
    oracle: str | None
    description: str = ""
    tags: tuple[str, ...] = field(default=())


CATALOG: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    description: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        CATALOG[name] = QuerySpec(fn, oracle, description, tags)
        return fn

    return deco


def _tag(sf_dir: str) -> str:
    """Filesystem/table-name-safe tag for one testdata scale."""
    base = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return re.sub(r"[^A-Za-z0-9_]", "_", base)


T = TypeVar("T")


def fixture_layer(
    build: Callable[[SparkSession, str], T],
) -> Callable[[SparkSession, str], T]:
    """Build a query fixture (scratch layer, index group, catalog,
    fitted quantizer) once per process and per scale, then hand every
    later caller the same result — built state stays resident so later
    queries skip the rebuild.

    The key is ``_tag(sf_dir)``, the per-scale identity every builder's
    scratch path already uses.  One lock per key: the first caller
    builds, a concurrent caller of the same key waits and gets the same
    object, callers of different keys never wait on each other.  The
    result is recorded only after ``build`` returns, so a builder that
    raises records nothing and the next call builds again.
    ``__wrapped__`` is the undecorated builder, for a forced rebuild."""
    built: dict[str, T] = {}
    locks: dict[str, threading.Lock] = {}
    guard = threading.Lock()

    @functools.wraps(build)
    def layer(spark: SparkSession, sf_dir: str) -> T:
        tag = _tag(sf_dir)
        with guard:
            lock = locks.setdefault(tag, threading.Lock())
        with lock:
            if tag not in built:
                built[tag] = build(spark, sf_dir)
            return built[tag]

    return layer


def facts_from_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaned + quality-filtered movie facts over the star-derived raw view
    (the reference pipeline's steps transform.py:96-121 end to end)."""
    return kpi.build_movie_facts(movies_raw_from_star(spark, sf_dir))


# ---------------------------------------------------------------------------
# Reference pipeline, end to end (transform.py:80-207)
# ---------------------------------------------------------------------------


@register(
    "movie_facts",
    MOVIE_FACTS_ORACLE_CTE
    + """
SELECT movie_fact_id, title, original_title, release_year, release_date,
       status, runtime, budget, revenue, vote_average, vote_count,
       imdb_rating, imdb_votes, popularity, original_language,
       '[' || coalesce(array_to_string(genres_list, ','), '') || ']'
           AS genres_list,
       '[' || coalesce(array_to_string(production_countries_list, ','), '') || ']'
           AS production_countries_list
FROM movie_facts
""",
    "cleaned 17-col fact table: F1-F4 cleaning + P3 quality filter "
    "(transform.py:96-121); arrays stringified at the boundary (F5, "
    "transform.py:129-130)",
    tags=("reference-core",),
)
def q_movie_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.cleaning import array_to_display_string

    facts = facts_from_star(spark, sf_dir)
    return facts.select(
        *[c for c in kpi.FACT_COLUMNS if not c.endswith("_list")],
        array_to_display_string("genres_list").alias("genres_list"),
        array_to_display_string("production_countries_list").alias(
            "production_countries_list"
        ),
    )


@register(
    "movie_genre_fact",
    MOVIE_GENRE_FACT_ORACLE_CTE + "\nSELECT * FROM movie_genre_fact",
    "genre-exploded 8-col fact: L1 explode + P4 filter (transform.py:138-157)",
    tags=("reference-core",),
)
def q_movie_genre_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kpi.build_movie_genre_fact(facts_from_star(spark, sf_dir))


@register(
    "genre_avg_revenue",
    MOVIE_GENRE_FACT_ORACLE_CTE
    + """
SELECT genre_name,
       ROUND(AVG(revenue), 4) AS average_revenue,
       COUNT(movie_fact_id) AS total_movies
FROM movie_genre_fact
WHERE revenue IS NOT NULL AND revenue > 0
GROUP BY genre_name
""",
    "BQ1 flagship: genre_average_revenue KPI — P5 filter + A1 group-avg/"
    "count + O1 sort (transform.py:177-197)",
    tags=("reference-core", "flagship"),
)
def q_genre_avg_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    summary = kpi.build_genre_summary(
        kpi.build_movie_genre_fact(facts_from_star(spark, sf_dir))
    )
    return summary.select(
        "genre_name",
        F.round("average_revenue", 4).alias("average_revenue"),
        "total_movies",
    )


# ---------------------------------------------------------------------------
# Declared analytics BQ2-BQ5 (README.md:17-20)
# ---------------------------------------------------------------------------


@register(
    "bq2_budget_revenue_corr",
    MOVIE_FACTS_ORACLE_CTE
    + """
SELECT ROUND(corr(budget, revenue), 6) AS budget_revenue_corr,
       COUNT(*) AS n_movies
FROM movie_facts
WHERE budget > 0 AND revenue > 0
""",
    "BQ2: Pearson correlation budget<->revenue (README.md:17)",
    tags=("reference-core",),
)
def q_bq2(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = kpi.budget_revenue_relationship(facts_from_star(spark, sf_dir))
    return res.select(
        F.round("budget_revenue_corr", 6).alias("budget_revenue_corr"), "n_movies"
    )


@register(
    "bq3_films_per_year",
    MOVIE_FACTS_ORACLE_CTE
    + """
SELECT release_year, COUNT(*) AS n_films
FROM movie_facts
WHERE release_year IS NOT NULL
GROUP BY release_year
""",
    "BQ3: films produced per year (README.md:18); F3 year derivation feeds "
    "the group key",
    tags=("reference-core",),
)
def q_bq3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kpi.films_per_year(facts_from_star(spark, sf_dir))


@register(
    "bq4_country_popularity",
    MOVIE_FACTS_ORACLE_CTE
    + """
SELECT country,
       ROUND(AVG(popularity), 4) AS avg_popularity,
       COUNT(*) AS n_movies
FROM (
  SELECT popularity, unnest(production_countries_list) AS country
  FROM movie_facts
)
WHERE country <> ''
GROUP BY country
""",
    "BQ4: most-popular producing countries — second explode target "
    "(README.md:19)",
    tags=("reference-core",),
)
def q_bq4(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = kpi.country_popularity(facts_from_star(spark, sf_dir))
    return res.select(
        "country", F.round("avg_popularity", 4).alias("avg_popularity"), "n_movies"
    )


@register(
    "bq5_runtime_rating",
    MOVIE_FACTS_ORACLE_CTE
    + """
SELECT CAST(FLOOR(runtime / 30) * 30 AS BIGINT) AS runtime_bucket,
       ROUND(AVG(imdb_rating), 4) AS avg_rating,
       COUNT(*) AS n_movies
FROM movie_facts
WHERE runtime IS NOT NULL AND runtime > 0
GROUP BY 1
""",
    "BQ5: runtime buckets vs rating (README.md:20)",
    tags=("reference-core",),
)
def q_bq5(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = kpi.runtime_rating_relationship(facts_from_star(spark, sf_dir))
    return res.select(
        "runtime_bucket", F.round("avg_rating", 4).alias("avg_rating"), "n_movies"
    )


@register(
    "title_fuzzy_pairs",
    MOVIE_FACTS_ORACLE_CTE
    + """
SELECT a.movie_fact_id AS i, b.movie_fact_id AS j,
       a.release_year,
       CAST(levenshtein(a.title, b.title) AS BIGINT) AS edit_distance
FROM movie_facts a JOIN movie_facts b
  ON a.release_year = b.release_year
 AND a.movie_fact_id < b.movie_fact_id
WHERE levenshtein(a.title, b.title) <= 3
""",
    "fuzzy title near-dup pairs: COMPOUND-blocked self-join "
    "(release_year x title-length band, width 4) + levenshtein <= 3 — "
    "the edit-distance tier of the dedup family (catches typo-level "
    "variants that token shingles miss).  The length band is "
    "RECALL-SAFE: levenshtein >= |len(a) - len(b)|, so a <= 3 edit "
    "distance bounds the length gap to 3 and band indices differ by "
    "at most 1 — one side explodes to its 3 neighbor bands and each "
    "qualifying pair equi-joins exactly once.  Year-only blocking is "
    "per-block quadratic on a fat year (VERDICT r7 #2); the compound "
    "key splits every year block by ~the distinct-length spread, and "
    "a cheap |length delta| <= 3 prefilter runs before the O(len^2) "
    "levenshtein so band-edge pairs never pay it",
    tags=("dedup", "text"),
)
def q_title_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # both self-join sides consume the full clean/filter pipeline and
    # their differing band projections defeat exchange reuse — ONE
    # materialization (4 narrow columns) instead of two cleaning passes
    facts = (
        facts_from_star(spark, sf_dir)
        .select(
            "movie_fact_id",
            "title",
            "release_year",
            F.length("title").alias("__len"),
        )
        .transform(materialize)
    )
    band = F.floor(F.col("__len") / 4)
    a = facts.select(
        F.col("movie_fact_id").alias("i"),
        F.col("title").alias("__ta"),
        F.col("__len").alias("__la"),
        "release_year",
        band.alias("__band"),
    )
    b = facts.select(
        F.col("movie_fact_id").alias("j"),
        F.col("title").alias("__tb"),
        F.col("__len").alias("__lb"),
        "release_year",
        F.explode(
            F.array(band - 1, band, band + 1)
        ).alias("__band"),
    )
    # thresholded levenshtein (banded DP, O(len x 3) per pair instead of
    # O(len^2); returns -1 above the threshold) — computed ONCE per
    # surviving pair and reused for the output column
    lev = F.levenshtein("__ta", "__tb", 3)
    return (
        a.join(b, ["release_year", "__band"])
        .filter(F.col("i") < F.col("j"))
        .filter(F.abs(F.col("__la") - F.col("__lb")) <= 3)
        .select("i", "j", "release_year", lev.alias("__lev"))
        .filter(F.col("__lev") >= 0)
        .select(
            "i",
            "j",
            "release_year",
            F.col("__lev").cast("long").alias("edit_distance"),
        )
    )


@register(
    "spearman_budget_revenue",
    MOVIE_FACTS_ORACLE_CTE
    + """
, f AS (SELECT budget, revenue FROM movie_facts
        WHERE budget > 0 AND revenue > 0),
r AS (SELECT
        rank() OVER (ORDER BY budget)
          + (COUNT(*) OVER (PARTITION BY budget) - 1) / 2.0 AS rb,
        rank() OVER (ORDER BY revenue)
          + (COUNT(*) OVER (PARTITION BY revenue) - 1) / 2.0 AS rr
      FROM f)
SELECT ROUND(corr(rb, rr), 6) AS spearman_corr, COUNT(*) AS n_movies
FROM r
""",
    "Spearman rank correlation budget<->revenue: the robust complement "
    "of BQ2's Pearson (monotone association, outlier-insensitive).  "
    "Average ranks come from a cumulative sum over DISTINCT values "
    "(groupBy count -> tiny ordered cumsum -> broadcast join back), so "
    "the only global sort runs on the distinct-value table, never the "
    "full fact — the scale-correct exact-rank shape",
    tags=("stats",),
)
def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    facts = facts_from_star(spark, sf_dir).filter(
        (F.col("budget") > 0) & (F.col("revenue") > 0)
    )

    def avg_ranks(col: str) -> DataFrame:
        from pyspark.sql import Window

        counts = facts.groupBy(col).agg(F.count(F.lit(1)).alias("__c"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return counts.select(
            col,
            (
                F.coalesce(F.sum("__c").over(w), F.lit(0))
                + (F.col("__c") + 1) / 2.0
            ).alias(f"__rank_{col}"),
        )

    ranked = (
        facts.select("budget", "revenue")
        .join(F.broadcast(avg_ranks("budget")), "budget")
        .join(F.broadcast(avg_ranks("revenue")), "revenue")
    )
    return ranked.agg(
        F.round(F.corr("__rank_budget", "__rank_revenue"), 6).alias(
            "spearman_corr"
        ),
        F.count(F.lit(1)).alias("n_movies"),
    )
