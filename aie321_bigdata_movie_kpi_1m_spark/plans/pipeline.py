"""End-to-end movie pipeline orchestration — the ``run_pipeline.py`` analog
(run_pipeline.py:22-59), Spark-first.

The reference runs three eager, fail-fast stages crossing a process
boundary at every edge (CSV -> Postgres -> pandas -> Postgres -> Sheets).
Here the whole thing is one lazy DAG with Parquet layer boundaries:

    raw --clean/filter--> movie_facts --explode--> movie_genre_fact
                                             \\--agg/sort--> genre_summary

- each layer is written ``mode=overwrite`` (the reference's
  drop-and-recreate semantics, transform.py:58);
- the exploded genre fact is computed ONCE and cached across its two
  consumers (the reference recomputes it, transform.py:138 vs :177);
- re-run-from-layer comes free: every stage reads the previous layer's
  parquet;
- per-layer row counts ride the writes (``df.observe``): no count job
  and no re-read.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators import kpi
from ..sources.readers import read_parquet
from ..sources.sinks import write_parquet


@dataclass
class PipelineResult:
    facts_rows: int
    genre_fact_rows: int
    summary_rows: int


def _write_counted(df: DataFrame, path: str) -> Observation:
    """``write_parquet`` that counts the rows it writes in the same job
    (``df.observe``, the ``sinks.observed_write`` pattern); read the count
    from the returned observation's ``get["rows"]``."""
    obs = Observation()
    write_parquet(df.observe(obs, F.count(F.lit(1)).alias("rows")), path)
    return obs


def run_movie_pipeline(
    spark: SparkSession,
    raw: DataFrame,
    out_dir: str,
) -> PipelineResult:
    """raw movies -> three production parquet layers.

    Returns row counts per layer (the reference's printed checkpoints,
    transform.py:116-121, as values instead of stdout), observed by the
    writes themselves: the pipeline runs no job of its own beyond them.
    """
    facts = _write_counted(kpi.build_movie_facts(raw), f"{out_dir}/movie_facts")

    # re-read the layer so downstream lineage starts at columnar parquet
    facts_l = read_parquet(spark, f"{out_dir}/movie_facts")
    genre_fact = kpi.build_movie_genre_fact(facts_l).cache()
    try:
        genre = _write_counted(genre_fact, f"{out_dir}/movie_genre_fact")
        summary = _write_counted(
            kpi.build_genre_summary(genre_fact), f"{out_dir}/genre_average_revenue"
        )
        return PipelineResult(
            facts_rows=facts.get["rows"],
            genre_fact_rows=genre.get["rows"],
            summary_rows=summary.get["rows"],
        )
    finally:
        genre_fact.unpersist()
