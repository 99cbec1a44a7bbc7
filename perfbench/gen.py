"""Deterministic input generators for the benchmark.

Everything here is a pure function of the seed, so the same seed always lands
the same bytes. Two families:

- ``movie_files`` + ``Truth``: raw movie JSON in the shape of FIXTURES.md
  section 1, and the ground truth the medallion pipelines must reproduce
  (silver/gold row counts, per-genre movie counts, bronze row counts).
- ``write_tables``: the TPC-H-ish star schema plus ``events``, ``documents``
  and ``embeddings`` that the suite queries and their DuckDB oracles read,
  with the column domains of the shipped fixtures.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

# Fixed genre id -> name map: the genres silver table and the gold mart are
# checked against it.
GENRES = {
    1: "Action", 2: "Adventure", 3: "Animation", 4: "Comedy", 5: "Crime",
    6: "Documentary", 7: "Drama", 8: "Family", 9: "Fantasy", 10: "History",
    11: "Horror", 12: "Music", 13: "Mystery", 14: "Romance", 15: "Science Fiction",
    16: "Thriller", 17: "War", 18: "Western",
}
LANGUAGES = ["en", "fr", "de", "es", "ja"]
CREATED_DATES = [f"2020-{m:02d}-15" for m in range(1, 9)]


@dataclass
class Truth:
    """What a pipeline over the landed files must produce."""

    bronze_rows: int = 0
    movies: dict[int, dict] = field(default_factory=dict)

    def add_file(self, movies: list[dict]) -> None:
        self.bronze_rows += len(movies)
        for m in movies:
            self.movies.setdefault(m["Id"], m)

    @property
    def quarantined(self) -> int:
        return sum(m["RunTime"] < 0 for m in self.movies.values())

    @property
    def genre_pairs(self) -> set[tuple[int, str]]:
        return {(g["id"], g["name"]) for m in self.movies.values()
                for g in m["genres"] if g["name"]}

    @property
    def languages(self) -> set[str]:
        return {m["OriginalLanguage"] for m in self.movies.values()}

    def genre_movie_counts(self) -> dict[int, int]:
        """Gold n_movies per genre: every Genres_Id entry (named or not) that
        joins a named genre counts once."""
        named = {gid for gid, _ in self.genre_pairs}
        out: dict[int, int] = {}
        for m in self.movies.values():
            for g in m["genres"]:
                if g["id"] in named:
                    out[g["id"]] = out.get(g["id"], 0) + 1
        return out


def _movie(rng: np.random.Generator, mid: int) -> dict:
    n_genres = int(rng.integers(1, 4))
    gids = sorted(rng.choice(list(GENRES), size=n_genres, replace=False).tolist())
    genres = [{"id": g, "name": GENRES[g]} for g in gids]
    if rng.random() < 0.1:  # empty-name entry: dropped from genres silver
        genres.append({"id": int(rng.choice(list(GENRES))), "name": ""})
    budget = float(round(rng.uniform(10_000, 200_000_000), 2))
    if rng.random() < 0.15:  # below the 100k floor
        budget = float(round(rng.uniform(1_000, 99_000), 2))
    runtime = int(rng.integers(60, 200))
    if rng.random() < 0.1:  # quarantined, then repaired by abs()
        runtime = -runtime
    created = CREATED_DATES[int(rng.integers(len(CREATED_DATES)))]
    return {
        "Id": mid,
        "Title": f"Title {mid}",
        "Overview": f"Overview of movie {mid} " + "x" * int(rng.integers(20, 120)),
        "Tagline": f"Tagline {mid}",
        "Budget": budget,
        "Revenue": float(round(rng.uniform(0, 1_000_000_000), 2)),
        "Price": float(round(rng.uniform(0.99, 29.99), 2)),
        "RunTime": runtime,
        "ImdbUrl": f"https://imdb.example/{mid}",
        "TmdbUrl": f"https://tmdb.example/{mid}",
        "PosterUrl": f"https://img.example/p{mid}",
        "BackdropUrl": f"https://img.example/b{mid}",
        "OriginalLanguage": LANGUAGES[int(rng.integers(len(LANGUAGES)))],
        "ReleaseDate": f"2019-{int(rng.integers(1, 13)):02d}-{int(rng.integers(1, 29)):02d}",
        "CreatedDate": created,
        "UpdatedDate": "2020-12-01",
        "CreatedBy": "loader",
        "UpdatedBy": "loader",
        "genres": genres,
    }


def movie_files(
    seed: int, n_files: int, per_file: int, first_id: int = 1,
    resend_from: list[dict] | None = None, resend: int = 0, dup_rate: float = 0.05,
) -> list[list[dict]]:
    """``n_files`` lists of ``per_file`` movie structs with fresh Ids from
    ``first_id``. About ``dup_rate`` of each file repeats structs already in
    it or in an earlier file (exact duplicates), and ``resend`` structs are
    re-sent from ``resend_from`` (records a lake has already loaded)."""
    rng = np.random.default_rng([seed, first_id])
    files: list[list[dict]] = []
    seen: list[dict] = []
    next_id = first_id
    for _ in range(n_files):
        n_dup = int(per_file * dup_rate)
        n_new = per_file - n_dup - resend
        fresh = [_movie(rng, next_id + i) for i in range(n_new)]
        next_id += n_new
        pool = seen + fresh
        dups = [pool[int(i)] for i in rng.integers(len(pool), size=n_dup)]
        old = []
        if resend and resend_from:
            old = [resend_from[int(i)] for i in rng.integers(len(resend_from), size=resend)]
        body = fresh + dups + old
        order = rng.permutation(len(body))
        files.append([body[int(i)] for i in order])
        seen.extend(fresh)
    return files


def write_movie_file(path: Path, movies: list[dict]) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"movie": movies}, fh, separators=(",", ":"))


# ---------------------------------------------------------------------------
# Star schema + events + documents + embeddings
# ---------------------------------------------------------------------------

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_ADJ = ["small", "red", "blue", "cold", "large", "green", "hot", "tiny"]
_NOUN = ["ring", "widget", "bolt", "gear", "nut", "screw", "spring", "valve"]


def _ts(days_from: str, days: np.ndarray) -> np.ndarray:
    return np.datetime64(days_from, "us") + (days * 86_400_000_000).astype("timedelta64[us]")


def star_tables(seed: int, sf: float) -> dict:
    import pyarrow as pa

    rng = np.random.default_rng([seed, 7])
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(choices, n):
        return np.array(choices, dtype=object)[rng.integers(len(choices), size=n)]

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(25, size=n_cust), i32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(25, size=n_supp), i32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(8, size=n_part), rng.integers(8, size=n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)],
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, size=n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(n_cust, size=n_ord), i64),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, size=n_ord)),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(n_ord, size=n_li), i64),
        "l_partkey": pa.array(rng.integers(n_part, size=n_li), i64),
        "l_suppkey": pa.array(rng.integers(n_supp, size=n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n_li), i32),
        "l_quantity": rng.integers(1, 51, size=n_li).astype(float),
        "l_extendedprice": money(900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, size=n_li) / 100.0,
        "l_tax": rng.integers(0, 9, size=n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, size=n_li)),
    })
    gaps = rng.exponential(1.0, size=n_ev)
    offsets_us = (np.cumsum(gaps) / gaps.sum() * 30 * 86_400e6).astype("int64")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": np.datetime64("2024-01-01", "us") + offsets_us.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(max(15, int(15_000 * sf)), size=n_ev), i64),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(40.0, size=n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(100, size=n_ev)],
    })
    texts = [" ".join(pick(_VOCAB, int(n))) for n in rng.integers(10, 100, size=n_doc)]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):  # near-duplicates
        texts[i] = texts[int(rng.integers(n_doc))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], i64),
    })
    labels = rng.integers(10, size=n_emb)
    centers = rng.normal(size=(10, 64))
    vecs = rng.normal(size=(n_emb, 64)) + 0.1 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


def write_tables(out_dir: Path, seed: int, sf: float) -> None:
    """Write every table as ``<out_dir>/<name>.parquet`` (one file each),
    atomically: a half-written directory is never left under ``out_dir``."""
    import pyarrow.parquet as pq

    if out_dir.exists():
        return
    tmp = out_dir.with_name(out_dir.name + f".tmp{os.getpid()}")
    tmp.mkdir(parents=True)
    for name, table in star_tables(seed, sf).items():
        pq.write_table(table, tmp / f"{name}.parquet")
    tmp.rename(out_dir)
