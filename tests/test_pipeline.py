"""End-to-end movie pipeline test (the run_pipeline.py analog) on the
star-derived raw view, writing real parquet layers."""

from __future__ import annotations

import pytest

from aie321_bigdata_movie_kpi_1m_spark.plans.movie_view import movies_raw_from_star
from aie321_bigdata_movie_kpi_1m_spark.plans.pipeline import run_movie_pipeline
from aie321_bigdata_movie_kpi_1m_spark.sources.readers import read_parquet


def test_movie_pipeline_layers(spark, tmp_path):
    raw = movies_raw_from_star(spark, "/root/testdata/sf0.001")
    out = str(tmp_path / "prod")
    res = run_movie_pipeline(spark, raw, out)

    assert res.facts_rows > 0
    assert res.genre_fact_rows >= res.facts_rows  # explode fans out
    assert 0 < res.summary_rows <= res.genre_fact_rows

    facts = read_parquet(spark, f"{out}/movie_facts")
    assert facts.filter(facts.imdb_rating.isNull()).count() == 0  # quality filter held
    summary = read_parquet(spark, f"{out}/genre_average_revenue")
    assert set(summary.columns) == {"genre_name", "average_revenue", "total_movies"}

    # overwrite semantics: re-run lands identically (drop-and-recreate analog)
    res2 = run_movie_pipeline(spark, raw, out)
    assert res2 == res


@pytest.mark.parametrize("empty", [False, True], ids=["sf0.001", "empty"])
def test_pipeline_counts_are_the_written_layers(spark, sf_dir, tmp_path, empty):
    raw = movies_raw_from_star(spark, sf_dir)
    if empty:
        raw = spark.createDataFrame([], raw.schema)
    out = str(tmp_path / "prod")
    res = run_movie_pipeline(spark, raw, out)

    written = [read_parquet(spark, f"{out}/{name}").count() for name in (
        "movie_facts", "movie_genre_fact", "genre_average_revenue")]
    assert [res.facts_rows, res.genre_fact_rows, res.summary_rows] == written
    assert (sum(written) == 0) == empty


def test_genre_summary_layer_is_one_sorted_file(spark, sf_dir, tmp_path):
    import glob

    import pyarrow.parquet as pq

    raw = movies_raw_from_star(spark, sf_dir)
    out = str(tmp_path / "prod")
    res = run_movie_pipeline(spark, raw, out)

    files = glob.glob(f"{out}/genre_average_revenue/*.parquet")
    assert len(files) == 1
    avg = pq.read_table(files[0]).column("average_revenue").to_pylist()
    assert len(avg) == res.summary_rows > 1
    assert avg == sorted(avg, reverse=True)
