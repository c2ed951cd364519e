"""Expected answers, computed once in set-up by DuckDB over the same CSV.

The cleaning and explode steps reuse the engine's DuckDB oracle SQL from
``plans.movie_view`` verbatim; only its ``movies_raw`` source is swapped
from the star-schema derivation to the generated CSV.  The dashboard
queries are written here in DuckDB SQL next to the Spark forms they check.
"""

from __future__ import annotations

import math

import duckdb

from aie321_bigdata_movie_kpi_1m_spark.plans.movie_view import (
    MOVIE_GENRE_FACT_ORACLE_CTE,
    MOVIES_RAW_ORACLE_CTE,
)

SUMMARY_SQL = """
SELECT genre_name, AVG(revenue) AS average_revenue,
       COUNT(movie_fact_id) AS total_movies
FROM movie_genre_fact
WHERE revenue IS NOT NULL AND revenue > 0
GROUP BY genre_name
ORDER BY average_revenue DESC, genre_name
"""

#: DuckDB twins of the dashboard query kinds; ``{p}`` is the kind's
#: parameter from the query stream.
DASHBOARD_SQL = {
    "bq1_top_genres": SUMMARY_SQL + " LIMIT {p}",
    "bq2_budget_revenue": """
SELECT corr(budget, revenue), COUNT(*) FROM movie_facts
WHERE budget > 0 AND revenue > 0""",
    "bq3_films_per_year": """
SELECT release_year, COUNT(*) FROM movie_facts
WHERE release_year IS NOT NULL GROUP BY release_year ORDER BY release_year""",
    "bq4_country_popularity": """
SELECT country, AVG(popularity) AS avg_popularity, COUNT(*) FROM (
  SELECT popularity, unnest(production_countries_list) AS country
  FROM movie_facts)
WHERE country <> '' GROUP BY country ORDER BY avg_popularity DESC""",
    "bq5_runtime_rating": """
SELECT CAST(FLOOR(runtime / {p}) * {p} AS BIGINT) AS b, AVG(imdb_rating),
       COUNT(*) FROM movie_facts
WHERE runtime IS NOT NULL AND runtime > 0 GROUP BY 1 ORDER BY 1""",
    "year_top_revenue": """
SELECT movie_fact_id, title, revenue FROM movie_facts WHERE release_year = {p}
ORDER BY revenue DESC NULLS LAST, movie_fact_id ASC NULLS LAST LIMIT 10""",
}


class Oracle:
    """DuckDB connection holding the CSV's rows and the oracle's
    ``movie_facts`` and ``movie_genre_fact`` tables built from them."""

    def __init__(self, csv_path: str, threads: int):
        if not MOVIE_GENRE_FACT_ORACLE_CTE.startswith(MOVIES_RAW_ORACLE_CTE):
            raise RuntimeError("movie_view oracle CTEs changed shape")
        self.con = duckdb.connect(config={"threads": threads})
        self.con.execute(
            "CREATE TABLE raw_csv AS SELECT * FROM read_csv(?, header=true, "
            "all_varchar=true, quote='\"', escape='\"')", [csv_path])
        cte = ("WITH movies_raw AS (SELECT * FROM raw_csv)"
               + MOVIE_GENRE_FACT_ORACLE_CTE[len(MOVIES_RAW_ORACLE_CTE):])
        for table in ("movie_facts", "movie_genre_fact"):
            self.con.execute(f"CREATE TABLE {table} AS {cte} SELECT * FROM {table}")

    def rows(self, sql: str) -> list[tuple]:
        return [tuple(r) for r in self.con.execute(sql).fetchall()]

    def layer_counts(self) -> tuple[int, int]:
        (facts, genre_facts), = self.rows(
            "SELECT (SELECT COUNT(*) FROM movie_facts),"
            " (SELECT COUNT(*) FROM movie_genre_fact)")
        return facts, genre_facts

    def summary(self) -> list[tuple]:
        return self.rows(SUMMARY_SQL)

    def dashboard(self, kind: str, param: int) -> list[tuple]:
        return self.rows(DASHBOARD_SQL[kind].format(p=int(param)))

    def close(self) -> None:
        self.con.close()


def same_value(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same_value(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Ordered row-by-row equality; doubles compare to 1e-9 relative,
    because the two engines sum in different orders."""
    return len(got) == len(want) and all(
        same_value(tuple(g), tuple(w)) for g, w in zip(got, want))
