"""Seeded input generator for the benchmark.

Everything a run feeds the engine comes from here and depends only on the
seed: the raw movie CSV (the paper's ~1M-row ``movies_raw`` export), typed
``movie_facts`` batches for the snapshot workload, and the streams of query
parameters and point-lookup keys.  The engine sees only the files written
here; the streams stay in the benchmark.

Ids live in disjoint ranges so every answer is known in advance:

- raw CSV rows use ids ``1..rows`` (shuffled, a few ids blank);
- snapshot base rows use ``SNAP_BASE_ID + 1 .. + base_rows``;
- append batch ``k`` uses the even ids ``APPEND_ID + 2 * (k * size + j)``,
  so the odd ids between them are absent keys that fall inside a file's
  min/max range and can only be rejected by the Bloom index.

The dirty-value mix follows FIXTURES.md section 5: null, empty and
whitespace-only list cells, stray spaces, empty and duplicate tokens,
non-numeric measures, malformed dates, zero and negative money, and a
large share of null ``imdb_rating`` (the main quality filter).  Values on
which Spark and DuckDB are known to parse differently (year-only dates,
``nan``/``inf`` spellings, padded numbers) are left out, so the DuckDB
oracle over the same CSV is exact.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv

from aie321_bigdata_movie_kpi_1m_spark.schemas import MOVIES_RAW_SCHEMA

#: the engine reads the CSV by position against this schema
RAW_COLUMNS = MOVIES_RAW_SCHEMA.fieldNames()

GENRES = [
    "Action", "Adventure", "Animation", "Comedy", "Crime", "Documentary",
    "Drama", "Family", "Fantasy", "History", "Horror", "Music", "Mystery",
    "Romance", "Science Fiction", "TV Movie", "Thriller", "War", "Western",
]
COUNTRIES = ["US", "GB", "FR", "DE", "JP", "IN", "IT", "ES", "CA", "KR",
             "CN", "BR", "MX", "SE", "AU"]
LANGUAGES = ["en", "fr", "ja", "de", "es", "it", "ko", "hi", "zh", "pt"]
STATUSES = ["Released", "Post Production", "Rumored", "Canceled",
            "In Production", "Planned"]
WORDS = ["Last", "Dark", "Silent", "Red", "Lost", "Broken", "Golden", "Night",
         "River", "Star", "City", "Storm", "Ghost", "Winter", "Paper", "Iron",
         "Glass", "Empire", "Dream", "Shadow", "Ocean", "Fire", "Garden",
         "Machine", "Signal", "Harbor", "Mirror", "Echo", "Summit", "Desert"]
YEARS = (1950, 2024)

SNAP_BASE_ID = 10_000_000
APPEND_ID = 20_000_000


def _pick(rng, vocab: list[str], n: int) -> pa.Array:
    return pa.array(vocab).take(pa.array(rng.integers(0, len(vocab), n)))


def _num(values: np.ndarray) -> pa.Array:
    return pc.cast(pa.array(values), pa.string())


def _dirty(rng, clean: pa.Array, mix: list[tuple[str | None, float]]) -> pa.Array:
    """Replace shares of ``clean`` with dirty values; ``mix`` is a list of
    (value, share) pairs, ``None`` standing for a null cell."""
    u = rng.random(len(clean))
    lo = 0.0
    out = clean
    for value, share in mix:
        mask = pa.array((u >= lo) & (u < lo + share))
        lo += share
        out = pc.if_else(mask, pa.scalar(value, pa.string()), out)
    return out


def _list_cell(rng, vocab: list[str], n: int, max_items: int) -> pa.Array:
    """Comma-separated names with the FIXTURES.md list-cell quirks: varied
    separators and stray spaces, trailing commas, duplicate tokens, and
    null / empty / whitespace-only cells."""
    k = rng.integers(1, max_items + 1, n)
    slots = []
    for i in range(max_items):
        s = _pick(rng, vocab, n)
        slots.append(pc.if_else(pa.array(k > i), s, pa.scalar(None, pa.string())))
    seps = pa.array([",", ", ", " , ", ","]).take(pa.array(rng.integers(0, 4, n)))
    joined = pc.binary_join_element_wise(*slots, seps, null_handling="skip")
    u = rng.random(n)
    joined = pc.if_else(pa.array(u < 0.08), pc.binary_join_element_wise(
        joined, ",", ""), joined)  # trailing comma
    joined = pc.if_else(pa.array((u >= 0.08) & (u < 0.12)),
                        pc.binary_join_element_wise(joined, slots[0], ", "), joined)
    return _dirty(rng, joined, [(None, 0.03), ("", 0.02), ("   ", 0.02),
                                (" , ,", 0.01)])


def raw_movies(seed: int, rows: int) -> pa.Table:
    """The raw movie export: all-string columns in ``MOVIES_RAW_SCHEMA``
    order, ids ``1..rows`` in seeded order."""
    rng = np.random.default_rng([seed, 1])
    n = rows
    ids = rng.permutation(np.arange(1, n + 1, dtype=np.int64))
    title = pc.binary_join_element_wise(
        _pick(rng, WORDS, n), _pick(rng, WORDS, n), _num(ids % 997), " ")
    year = rng.integers(YEARS[0], YEARS[1] + 1, n)
    date = pc.binary_join_element_wise(
        _num(year), pc.utf8_lpad(_num(rng.integers(1, 13, n)), 2, "0"),
        pc.utf8_lpad(_num(rng.integers(1, 29, n)), 2, "0"), "-")
    cols = {
        "id": _dirty(rng, _num(ids), [(None, 0.005)]),
        "title": _dirty(rng, title, [(None, 0.01)]),
        "original_title": _dirty(rng, pc.utf8_upper(title), [(None, 0.02)]),
        "release_date": _dirty(rng, date, [(None, 0.03), ("garbage", 0.02),
                                           ("2001-13-45", 0.01), ("", 0.01)]),
        "status": _dirty(rng, _pick(rng, STATUSES, n), [(None, 0.01)]),
        "runtime": _dirty(rng, _num(rng.integers(60, 200, n)),
                          [("abc", 0.02), ("", 0.02), (None, 0.02)]),
        "budget": _dirty(rng, _num(rng.integers(1, 300_000, n) * 1000),
                         [(None, 0.04), ("", 0.02), ("0", 0.10), ("-5000", 0.01)]),
        "revenue": _dirty(rng, _num(rng.integers(1, 2_000_000, n) * 1000),
                          [(None, 0.05), ("", 0.02), ("0", 0.15), ("N/A", 0.01)]),
        "vote_average": _dirty(rng, pc.binary_join_element_wise(
            _num(rng.integers(0, 10, n)), _num(rng.integers(0, 10, n)), "."),
            [(None, 0.03)]),
        "vote_count": _dirty(rng, _num(rng.integers(0, 50_000, n)), [(None, 0.03)]),
        "imdb_rating": _dirty(rng, pc.binary_join_element_wise(
            _num(rng.integers(1, 10, n)), _num(rng.integers(0, 10, n)), "."),
            [(None, 0.25), ("N/A", 0.02), ("", 0.01)]),
        "imdb_votes": _dirty(rng, _num(rng.integers(0, 2_000_000, n)), [(None, 0.02)]),
        "popularity": _dirty(rng, pc.binary_join_element_wise(
            _num(rng.integers(0, 1000, n)), pc.utf8_lpad(
                _num(rng.integers(0, 1000, n)), 3, "0"), "."),
            [("oops", 0.01), (None, 0.02)]),
        "original_language": _dirty(rng, _pick(rng, LANGUAGES, n), [(None, 0.01)]),
        "genres": _list_cell(rng, GENRES, n, 3),
        "production_countries": _list_cell(rng, COUNTRIES, n, 2),
    }
    for name in ("production_companies", "spoken_languages", "cast",
                 "writers", "producers"):
        cols[name] = _list_cell(rng, WORDS, n, 2)
    return pa.table([cols[c] for c in RAW_COLUMNS], names=RAW_COLUMNS)


def write_raw_csv(table: pa.Table, path: str) -> int:
    """Write the raw export as header + CSV rows; returns its bytes.  Null
    cells are written empty, empty strings quoted, so both readers see
    the same values."""
    pacsv.write_csv(table, path, pacsv.WriteOptions(
        include_header=True, quoting_style="needed"))
    return os.path.getsize(path)


FACTS_SCHEMA = pa.schema([
    ("movie_fact_id", pa.int64()), ("title", pa.string()),
    ("original_title", pa.string()), ("release_year", pa.int32()),
    ("release_date", pa.string()), ("status", pa.string()),
    ("runtime", pa.float64()), ("budget", pa.float64()),
    ("revenue", pa.float64()), ("vote_average", pa.float64()),
    ("vote_count", pa.float64()), ("imdb_rating", pa.float64()),
    ("imdb_votes", pa.float64()), ("popularity", pa.float64()),
    ("original_language", pa.string()),
    ("genres_list", pa.list_(pa.string())),
    ("production_countries_list", pa.list_(pa.string())),
])


def _list_array(rng, vocab: list[str], n: int, max_items: int) -> pa.Array:
    k = rng.integers(0, max_items + 1, n)
    offsets = np.concatenate([[0], np.cumsum(k)]).astype(np.int32)
    values = _pick(rng, vocab, int(offsets[-1]))
    return pa.ListArray.from_arrays(pa.array(offsets), values)


def facts_rows(seed: int, stream: int, ids: np.ndarray) -> pa.Table:
    """Typed ``movie_facts`` rows (the cleaned layer's schema) for ``ids``;
    ``stream`` keeps batches of one seed independent of each other."""
    rng = np.random.default_rng([seed, 2, stream])
    n = len(ids)
    year = rng.integers(YEARS[0], YEARS[1] + 1, n)
    title = pc.binary_join_element_wise(
        _pick(rng, WORDS, n), _pick(rng, WORDS, n), _num(ids % 997), " ")
    date = pc.binary_join_element_wise(
        _num(year), pc.utf8_lpad(_num(rng.integers(1, 13, n)), 2, "0"), "15", "-")

    def money(scale: int) -> np.ndarray:
        return (rng.integers(0, 300_000, n) * scale).astype(np.float64)

    cols = [
        pa.array(ids, pa.int64()), title, pc.utf8_upper(title),
        pa.array(year.astype(np.int32)), date, _pick(rng, STATUSES, n),
        pa.array(rng.integers(60, 200, n).astype(np.float64)),
        pa.array(money(1000)), pa.array(money(5000)),
        pa.array(rng.integers(0, 100, n) / 10.0),
        pa.array(rng.integers(0, 50_000, n).astype(np.float64)),
        pa.array(rng.integers(10, 100, n) / 10.0),
        pa.array(rng.integers(0, 2_000_000, n).astype(np.float64)),
        pa.array(rng.integers(0, 1_000_000, n) / 1000.0),
        _pick(rng, LANGUAGES, n), _list_array(rng, GENRES, n, 3),
        _list_array(rng, COUNTRIES, n, 2),
    ]
    return pa.Table.from_arrays(cols, schema=FACTS_SCHEMA)


def snapshot_base_ids(rows: int) -> np.ndarray:
    return np.arange(SNAP_BASE_ID + 1, SNAP_BASE_ID + rows + 1, dtype=np.int64)


def append_ids(batch: int, size: int) -> np.ndarray:
    start = batch * size
    return APPEND_ID + 2 * np.arange(start, start + size, dtype=np.int64)


def lookup_keys(seed: int, batch: int, size: int, base_rows: int, n: int,
                absent_share: float) -> list[tuple[int, bool]]:
    """The ``n`` point-lookup keys issued after append ``batch`` committed:
    (id, present).  Present keys come from the base rows and every batch
    committed so far; absent keys are odd ids inside committed batch
    ranges, so only the Bloom index can skip their files."""
    rng = np.random.default_rng([seed, 3, batch])
    keys = []
    for _ in range(n):
        if rng.random() < absent_share:
            slot = int(rng.integers(0, (batch + 1) * size))
            keys.append((APPEND_ID + 2 * slot + 1, False))
        elif rng.random() < 0.5:
            keys.append((SNAP_BASE_ID + 1 + int(rng.integers(0, base_rows)), True))
        else:
            slot = int(rng.integers(0, (batch + 1) * size))
            keys.append((APPEND_ID + 2 * slot, True))
    return keys


def query_stream(seed: int, kinds: list[str], rounds: int) -> list[tuple[str, int]]:
    """Dashboard queries: each round runs every kind once, in a seeded
    order, each with a seeded parameter (a year, a top-N or a bucket
    width, depending on the kind)."""
    rng = np.random.default_rng([seed, 4])
    out = []
    for _ in range(rounds):
        for i in rng.permutation(len(kinds)):
            kind = kinds[int(i)]
            if kind == "year_top_revenue":
                param = int(rng.integers(YEARS[0], YEARS[1] + 1))
            elif kind == "bq5_runtime_rating":
                param = int(rng.choice([15, 30, 60]))
            else:
                param = int(rng.choice([5, 10, 20]))
            out.append((kind, param))
    return out
