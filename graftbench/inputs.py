"""Seeded input generators for the workloads.

Every table is a pure function of (seed, size): numpy's PCG64 drives all
draws and the writers carry no clock or host in their output, so one seed
gives byte-identical files and another seed gives different ones
(``selfcheck.py`` verifies both). The program under test only ever sees
the files written here.

- ``write_star``: Sparkify line-delimited JSON in the reference's raw
  shapes (tests/fixtures_sparkify.py), keeping the traps the star oracle
  needs to tell right from wrong: ``""`` userIds, duplicate ``ts``, plays
  that match a song only under ``length(12,4) = duration(12,6)``, exact
  duplicate song rows, and artists shared by several songs.
- ``write_corpus``: ``documents``, ``embeddings`` and ``customer`` with
  the columns, types and value domains of TESTDATA.md's lake, with planted
  near-duplicate documents and label-clustered unit embeddings.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _rng(seed: int, stream: str) -> np.random.Generator:
    # One independent stream per table, so resizing one table leaves the
    # others' bytes unchanged.
    return np.random.Generator(np.random.PCG64([seed, sum(map(ord, stream)) * 7919 + len(stream)]))


def _write_parquet(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path, compression="snappy")


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


# ---------------------------------------------------------------------------
# star_refresh: Sparkify JSON
# ---------------------------------------------------------------------------

BASE_TS = 1_541_000_000_000  # epoch millis, as in the reference fixtures


def write_star(out_dir: str, seed: int, n_events: int, n_songs: int) -> dict[str, dict]:
    """Write ``songs.json`` and ``events.json``; return {table: rows/bytes}."""
    os.makedirs(out_dir, exist_ok=True)
    rs = _rng(seed, "songs")
    n_artists = max(n_songs // 4, 1)  # ~4 songs per artist
    a_lat = np.round(rs.uniform(-60, 70, n_artists), 3)
    a_lon = np.round(rs.uniform(-170, 170, n_artists), 3)
    a_nogeo = rs.random(n_artists) < 0.3
    a_loc = np.array([f"City {i % 997}" for i in range(n_artists)], dtype=object)
    song_artist = rs.integers(0, n_artists, n_songs)
    # Half the durations carry 4 decimals (joinable by a length(12,4)),
    # half carry 6 (never equal to any 4-decimal length).
    four = rs.random(n_songs) < 0.5
    dur = np.where(
        four,
        np.round(rs.uniform(60, 600, n_songs), 4),
        np.round(rs.uniform(60, 600, n_songs), 6) + 0.000001,
    )
    songs = pd.DataFrame(
        {
            "num_songs": 1,
            "artist_id": [f"AR{a:07d}" for a in song_artist],
            "artist_latitude": np.where(a_nogeo[song_artist], None, a_lat[song_artist]),
            "artist_longitude": np.where(a_nogeo[song_artist], None, a_lon[song_artist]),
            "artist_location": a_loc[song_artist],
            "artist_name": [f"Artist {a}" for a in song_artist],
            "song_id": [f"SO{i:08d}" for i in range(n_songs)],
            "title": [f"Song {i % (n_songs // 2 + 1)}" for i in range(n_songs)],
            "duration": [f"{d:.6f}" for d in dur],
            "year": np.where(rs.random(n_songs) < 0.2, 0, rs.integers(1960, 2019, n_songs)),
        }
    )
    # ~3% exact duplicate song rows: dims dedup them, the fact multiplies.
    dup = rs.choice(n_songs, max(n_songs // 33, 1), replace=False)
    songs = pd.concat([songs, songs.iloc[dup]], ignore_index=True)
    songs = songs.iloc[rs.permutation(len(songs))].reset_index(drop=True)

    rv = _rng(seed, "events")
    n_users = max(n_events // 50, 2)
    u_first = np.array([f"First{i % 211}" for i in range(n_users)], dtype=object)
    u_last = np.array([f"Last{i % 307}" for i in range(n_users)], dtype=object)
    u_gender = np.where(rv.random(n_users) < 0.5, "F", "M")
    user = rv.integers(0, n_users, n_events)
    logged_out = rv.random(n_events) < 0.04
    # ~12% of events reuse another event's timestamp: DISTINCT time < events.
    ts = BASE_TS + np.sort(rv.integers(0, 30 * 86_400_000, n_events))
    clash = rv.random(n_events) < 0.12
    ts[clash] = ts[rv.integers(0, n_events, n_events)][clash]
    plays = rv.random(n_events) < 0.6
    pick = rv.integers(0, len(songs), n_events)
    song_dur = songs["duration"].astype(float).to_numpy()[pick]
    # A quarter of plays match on all three keys (only 4-decimal songs can);
    # the rest carry a length one ten-thousandth off, or a 6-decimal song's
    # duration rounded to 4 places — both must stay unmatched.
    exact = rv.random(n_events) < 0.25
    length = np.where(exact, np.round(song_dur, 4), np.round(song_dur, 4) + 0.0001)
    events = pd.DataFrame(
        {
            "artist": np.where(plays, songs["artist_name"].to_numpy()[pick], None),
            "auth": np.where(logged_out, "Logged Out", "Logged In"),
            "firstName": np.where(logged_out, None, u_first[user]),
            "gender": np.where(logged_out, None, u_gender[user]),
            "itemInSession": rv.integers(0, 120, n_events),
            "lastName": np.where(logged_out, None, u_last[user]),
            "length": np.where(plays, np.char.mod("%.4f", length), None),
            "level": np.where(rv.random(n_events) < 0.3, "paid", "free"),
            "location": [f"Town {u % 89}, ST" for u in user],
            "method": np.where(plays, "PUT", "GET"),
            "page": np.where(plays, "NextSong", np.where(logged_out, "Login", "Home")),
            "registration": np.round(BASE_TS - rv.integers(1, 400, n_events) * 86_400_000.0 + 0.5, 1),
            "sessionId": rv.integers(1, n_events // 20 + 2, n_events),
            "song": np.where(plays, songs["title"].to_numpy()[pick], None),
            "status": np.where(plays, 200, rv.choice([200, 307, 404], n_events)),
            "ts": ts,
            "userAgent": "Mozilla/5.0",
            "userId": np.where(logged_out, "", (user + 100).astype(str)),
        }
    )
    sizes = {}
    for name, df in (("songs", songs), ("events", events)):
        path = os.path.join(out_dir, f"{name}.json")
        text = df.to_json(orient="records", lines=True, double_precision=10)
        # decimals are rendered as fixed-point strings above so that no
        # float formatting touches them; they travel as JSON numbers
        text = re.sub(r'"(duration|length)":"(-?[0-9.]+)"', r'"\1":\2', text)
        with open(path, "w") as f:
            f.write(text)
        sizes[name] = {"rows": len(df), "bytes": os.path.getsize(path)}
    return sizes


CUSTOMER_SCHEMA = pa.schema(
    [
        ("c_custkey", pa.int64()),
        ("c_name", pa.string()),
        ("c_nationkey", pa.int32()),
        ("c_acctbal", pa.float64()),
        ("c_mktsegment", pa.string()),
    ]
)


def _customers(seed: int, n: int) -> pd.DataFrame:
    r = _rng(seed, "customer")
    return pd.DataFrame(
        {
            "c_custkey": np.arange(n),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": r.integers(0, 25, n),
            "c_acctbal": _cents(r.uniform(-999.99, 9999.99, n)),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n)],
        }
    )


def _write_all(out_dir: str, tables: dict[str, tuple[pd.DataFrame, pa.Schema]]) -> dict[str, dict]:
    sizes = {}
    for name, (df, schema) in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        _write_parquet(df, path, schema)
        sizes[name] = {"rows": len(df), "bytes": os.path.getsize(path)}
    return sizes


# ---------------------------------------------------------------------------
# corpus_curation: documents, embeddings, customer
# ---------------------------------------------------------------------------


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int, n_cust: int) -> dict[str, dict]:
    """Write the corpus tables; ~5% of documents are near-duplicates."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "documents")
    lens = r.integers(10, 90, n_docs)
    words = np.array(WORDS)
    texts = [" ".join(words[r.integers(0, len(WORDS), n)]) for n in lens]
    dup = np.flatnonzero(r.random(n_docs) < 0.05)
    for i in dup[dup > 0]:
        texts[i] = texts[int(r.integers(0, i))] + " dup"
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs),
            "text": texts,
            "lang": np.array(LANGS)[r.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": [len(t) for t in texts],
        }
    )
    r = _rng(seed, "embeddings")
    labels = r.integers(0, 10, n_vecs)
    centers = r.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.35 + r.normal(0, 1, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pd.DataFrame({"vec_id": np.arange(n_vecs), "embedding": list(vecs), "label": labels})
    tables = {
        "documents": (
            docs,
            pa.schema(
                [
                    ("doc_id", pa.int64()),
                    ("text", pa.string()),
                    ("lang", pa.string()),
                    ("source", pa.string()),
                    ("n_chars", pa.int64()),
                ]
            ),
        ),
        "embeddings": (
            emb,
            pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]),
        ),
        "customer": (_customers(seed, n_cust), CUSTOMER_SCHEMA),
    }
    return _write_all(out_dir, tables)
