"""The movie KPI pipeline — the reference's analytics core, Spark-first.

Covers transform.py:80-207 (clean/derive/project/filter -> movie_facts;
explode -> movie_genre_fact; filter+agg+sort -> genre_average_revenue) and
the five README business questions (README.md:14-20, SURVEY.md §2.7).

Plan shape vs the reference:
- One lazy DAG instead of three eager stages; Catalyst fuses the cleaning
  into a single projected/filtered scan stage (column pruning + predicate
  pushdown reach the parquet reader).
- The reference computes the genre explode twice from scratch
  (transform.py:138 and :177); here ``build_movie_genre_fact`` is computed
  once and both the fact sink and the aggregation branch from it (callers
  may ``.cache()`` when both branches materialize in one job).
- The groupBy compiles to partial (map-side) + final hash aggregation with
  one shuffle on the genre key — the shape that scales to 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cleaning import parse_list_column, to_double, to_long, year_of

#: transform.py:107-113 — the 17 projected fact columns.
FACT_COLUMNS = [
    "movie_fact_id",
    "title",
    "original_title",
    "release_year",
    "release_date",
    "status",
    "runtime",
    "budget",
    "revenue",
    "vote_average",
    "vote_count",
    "imdb_rating",
    "imdb_votes",
    "popularity",
    "original_language",
    "genres_list",
    "production_countries_list",
]

#: transform.py:148-157 — the 8 genre-fact columns (genres_list renamed).
GENRE_FACT_COLUMNS = [
    "movie_fact_id",
    "title",
    "release_year",
    "revenue",
    "budget",
    "imdb_rating",
    "popularity",
    "genre_name",
]


def _sort_small(agg: DataFrame, *cols) -> DataFrame:
    """Order an aggregate with few rows (one per genre, year, country or
    runtime bucket) inside one partition.  A global ``orderBy`` would
    sample range bounds and shuffle again: two extra jobs per query for
    a result of tens of rows."""
    return agg.coalesce(1).sortWithinPartitions(*cols)


def clean_movies(raw: DataFrame) -> DataFrame:
    """Cleaning layer: list-parse, numeric coercion, year derivation, id cast
    (transform.py:96-105).  All JVM-side expressions; Catalyst folds this
    into the scan projection."""
    return raw.select(
        to_long("id").alias("movie_fact_id"),
        F.col("title"),
        F.col("original_title"),
        year_of("release_date").alias("release_year"),
        F.col("release_date"),
        F.col("status"),
        to_double("runtime").alias("runtime"),
        to_double("budget").alias("budget"),
        to_double("revenue").alias("revenue"),
        to_double("vote_average").alias("vote_average"),
        to_double("vote_count").alias("vote_count"),
        to_double("imdb_rating").alias("imdb_rating"),
        to_double("imdb_votes").alias("imdb_votes"),
        to_double("popularity").alias("popularity"),
        F.col("original_language"),
        parse_list_column("genres").alias("genres_list"),
        parse_list_column("production_countries").alias("production_countries_list"),
    )


def build_movie_facts(raw: DataFrame) -> DataFrame:
    """movie_facts: cleaned 17-column fact table, quality-filtered to rows
    with a present ``imdb_rating`` (transform.py:107-121)."""
    return clean_movies(raw).filter(F.col("imdb_rating").isNotNull()).select(
        *FACT_COLUMNS
    )


def build_movie_genre_fact(facts: DataFrame) -> DataFrame:
    """movie_genre_fact: one row per (movie, genre) (transform.py:138-157).

    Plain ``explode`` drops null/empty arrays, which equals the reference's
    net semantics (pandas explode-keeps-NaN immediately re-filtered,
    SURVEY.md §1.4 Q2); the non-empty-string filter is kept explicitly.
    """
    return (
        facts.withColumn("genre_name", F.explode("genres_list"))
        .filter(F.col("genre_name").isNotNull() & (F.col("genre_name") != ""))
        .select(*GENRE_FACT_COLUMNS)
    )


def build_genre_summary(genre_fact: DataFrame) -> DataFrame:
    """genre_average_revenue: BQ1, the headline KPI (transform.py:177-197).

    Input rows already passed the imdb_rating filter (double-filter quirk,
    SURVEY.md §1.4 Q4); here the revenue>0 filter applies, then
    group-by-genre mean(revenue)/count, sorted descending.  Partial+final
    hash agg, single shuffle on genre_name, then ``_sort_small``.
    """
    return (
        genre_fact.filter(F.col("revenue").isNotNull() & (F.col("revenue") > 0))
        .groupBy("genre_name")
        .agg(
            F.avg("revenue").alias("average_revenue"),
            F.count("movie_fact_id").alias("total_movies"),
        )
        .transform(_sort_small, F.col("average_revenue").desc())
    )


# ---------------------------------------------------------------------------
# Declared analytics BQ2-BQ5 (README.md:17-20) — capabilities of the
# published model, computed natively here instead of in Looker Studio.
# ---------------------------------------------------------------------------


def budget_revenue_relationship(facts: DataFrame) -> DataFrame:
    """BQ2 (README.md:17): budget <-> revenue relationship as Pearson
    correlation over movies with both figures positive."""
    return facts.filter((F.col("budget") > 0) & (F.col("revenue") > 0)).agg(
        F.corr("budget", "revenue").alias("budget_revenue_corr"),
        F.count(F.lit(1)).alias("n_movies"),
    )


def films_per_year(facts: DataFrame) -> DataFrame:
    """BQ3 (README.md:18): films produced per year, chronological."""
    return (
        facts.filter(F.col("release_year").isNotNull())
        .groupBy("release_year")
        .agg(F.count(F.lit(1)).alias("n_films"))
        .transform(_sort_small, "release_year")
    )


def country_popularity(facts: DataFrame) -> DataFrame:
    """BQ4 (README.md:19): most-popular producing countries via explode of
    ``production_countries_list`` + avg(popularity), count."""
    return (
        facts.withColumn("country", F.explode("production_countries_list"))
        .filter(F.col("country") != "")
        .groupBy("country")
        .agg(
            F.avg("popularity").alias("avg_popularity"),
            F.count(F.lit(1)).alias("n_movies"),
        )
        .transform(_sort_small, F.col("avg_popularity").desc())
    )


def runtime_rating_relationship(facts: DataFrame, bucket_minutes: int = 30) -> DataFrame:
    """BQ5 (README.md:20): does longer runtime mean higher rating?  Runtime
    buckets (floor(runtime/bucket)) with avg rating and movie count."""
    return (
        facts.filter(F.col("runtime").isNotNull() & (F.col("runtime") > 0))
        .withColumn(
            "runtime_bucket",
            (F.floor(F.col("runtime") / bucket_minutes) * bucket_minutes).cast("long"),
        )
        .groupBy("runtime_bucket")
        .agg(
            F.avg("imdb_rating").alias("avg_rating"),
            F.count(F.lit(1)).alias("n_movies"),
        )
        .transform(_sort_small, "runtime_bucket")
    )
