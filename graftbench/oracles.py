"""Oracles, run in DuckDB outside every timed region.

- ``StarOracle``: the reference's five INSERT-SELECTs (sql_queries.py:
  132-190) written independently in DuckDB SQL over the same JSON files,
  compared with the program's parquet output as multisets (EXCEPT ALL
  both ways, after casting the output to the oracle's column types).
- ``canon_rows``: the order-insensitive exact canonical form that the
  registry's own oracle checker uses, for comparing a query's pandas
  result with its DuckDB oracle (or with its warm-up result when the
  oracle is a committed expectation pinned to another lake).
"""

from __future__ import annotations

import os
from decimal import Decimal

import duckdb
import pandas as pd

EVENTS_COLUMNS = {
    "artist": "VARCHAR",
    "auth": "VARCHAR",
    "firstName": "VARCHAR",
    "gender": "VARCHAR",
    "itemInSession": "BIGINT",
    "lastName": "VARCHAR",
    "length": "DECIMAL(12,4)",
    "level": "VARCHAR",
    "location": "VARCHAR",
    "method": "VARCHAR",
    "page": "VARCHAR",
    "registration": "DOUBLE",
    "sessionId": "BIGINT",
    "song": "VARCHAR",
    "status": "BIGINT",
    "ts": "BIGINT",
    "userAgent": "VARCHAR",
    "userId": "VARCHAR",
}
SONGS_COLUMNS = {
    "num_songs": "BIGINT",
    "artist_id": "VARCHAR",
    "artist_latitude": "DECIMAL(11,3)",
    "artist_longitude": "DECIMAL(11,3)",
    "artist_location": "VARCHAR",
    "artist_name": "VARCHAR",
    "song_id": "VARCHAR",
    "title": "VARCHAR",
    "duration": "DECIMAL(12,6)",
    "year": "BIGINT",
}

STAR_SQL = {
    "songplay": """
        SELECT make_timestamp(e.ts * 1000) AS start_time,
               TRY_CAST(NULLIF(e.userId, '') AS BIGINT) AS user_id,
               e.level, s.song_id, s.artist_id,
               CAST(e.sessionId AS VARCHAR) AS session_id,
               e.location, e.userAgent AS user_agent
        FROM ev e LEFT JOIN so s
          ON s.artist_name = e.artist AND s.title = e.song AND s.duration = e.length""",
    "users": """
        SELECT DISTINCT TRY_CAST(NULLIF(userId, '') AS BIGINT) AS user_id,
               firstName AS first_name, lastName AS last_name, gender
        FROM ev WHERE TRY_CAST(NULLIF(userId, '') AS BIGINT) IS NOT NULL""",
    "songs": """
        SELECT DISTINCT song_id, title AS song_title, artist_id, year, duration
        FROM so WHERE song_id IS NOT NULL""",
    "artists": """
        SELECT DISTINCT artist_id, artist_name, artist_location,
               CAST(artist_longitude AS DECIMAL(11,8)) AS artist_longitude,
               CAST(artist_latitude AS DECIMAL(11,8)) AS artist_latitude
        FROM so WHERE artist_id IS NOT NULL""",
    "time": """
        SELECT DISTINCT t AS start_time,
               CAST(hour(t) AS INTEGER) AS hour, CAST(day(t) AS INTEGER) AS day,
               CAST(weekofyear(t) AS INTEGER) AS week, CAST(month(t) AS INTEGER) AS month,
               CAST(year(t) AS INTEGER) AS year
        FROM (SELECT make_timestamp(ts * 1000) AS t FROM ev)""",
}


def _cols(spec: dict[str, str]) -> str:
    return "{" + ", ".join(f"'{k}': '{v}'" for k, v in spec.items()) + "}"


class StarOracle:
    """Expected star tables, built once per input set."""

    def __init__(self, events_path: str, songs_path: str):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute(
            f"CREATE TABLE ev AS SELECT * FROM read_json('{events_path}', format='newline_delimited', "
            f"columns={_cols(EVENTS_COLUMNS)})"
        )
        self.con.execute(
            f"CREATE TABLE so AS SELECT * FROM read_json('{songs_path}', format='newline_delimited', "
            f"columns={_cols(SONGS_COLUMNS)})"
        )
        self.types: dict[str, list[tuple[str, str]]] = {}
        for table, sql in STAR_SQL.items():
            self.con.execute(f"CREATE TABLE expect_{table} AS {sql}")
            self.types[table] = [(r[0], r[1]) for r in self.con.execute(f"DESCRIBE expect_{table}").fetchall()]

    def check(self, out_dir: str, tamper: str | None = None) -> list[str]:
        """Problems found in the five output tables under ``out_dir`` (empty
        when all match). ``tamper``, for the self-check, is SQL run against
        the loaded copy ``got`` of the songplay table before comparing."""
        problems = []
        for table, cols in self.types.items():
            path = os.path.join(out_dir, table)
            got = self.con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet') LIMIT 0").description
            names = sorted(d[0] for d in got)
            if names != sorted(c for c, _ in cols):
                problems.append(f"{table}: columns {names}")
                continue
            select = ", ".join(f'CAST("{c}" AS {t}) AS "{c}"' for c, t in cols)
            self.con.execute(f"CREATE OR REPLACE TEMP TABLE got AS SELECT {select} FROM read_parquet('{path}/*.parquet')")
            if tamper and table == "songplay":
                self.con.execute(tamper)
            missing = self.con.execute(
                f"SELECT count(*) FROM (SELECT * FROM expect_{table} EXCEPT ALL SELECT * FROM got)"
            ).fetchone()[0]
            extra = self.con.execute(
                f"SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM expect_{table})"
            ).fetchone()[0]
            if missing or extra:
                problems.append(f"{table}: {missing} expected rows missing, {extra} unexpected rows")
        return problems

    def close(self) -> None:
        self.con.close()


# ---------------------------------------------------------------------------
# registry queries
# ---------------------------------------------------------------------------


def canon_value(v) -> str:
    if v is None or v is pd.NaT or (isinstance(v, float) and v != v):
        return "<NULL>"
    if isinstance(v, Decimal):
        s = format(v, "f")
        if "." in s:
            s = s.rstrip("0").rstrip(".")
        return "0" if s in ("-0", "") else s
    if isinstance(v, float):
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return str(v)


def canon_rows(df: pd.DataFrame) -> tuple[tuple[str, ...], list[tuple[str, ...]]]:
    """(sorted column names, sorted canonical rows)."""
    cols = tuple(sorted(df.columns))
    rows = [tuple(canon_value(v) for v in row) for row in df[list(cols)].itertuples(index=False, name=None)]
    rows.sort()
    return cols, rows


def compare(got: pd.DataFrame, expect: tuple[tuple[str, ...], list[tuple[str, ...]]]) -> str | None:
    """None when ``got`` equals the canonical ``expect``, else why not."""
    cols, rows = canon_rows(got)
    if cols != expect[0]:
        return f"columns {cols} != {expect[0]}"
    if len(rows) != len(expect[1]):
        return f"{len(rows)} rows != {len(expect[1])}"
    if rows != expect[1]:
        diff = next(a for a, b in zip(rows, expect[1]) if a != b)
        return f"values differ, first differing row {diff}"
    return None


class TableOracle:
    """DuckDB over the generated parquet tables, one view per table.

    Two registered oracles are all-pairs SQL that takes minutes at these
    sizes (brute-force Jaccard; Levenshtein over every record pair plus a
    recursive-CTE closure). ``FAST`` holds independent exact Python
    versions of those two, computed from the same tables."""

    def __init__(self, data_dir: str, tables: list[str]):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def expect(self, op: str, sql: str):
        fast = FAST.get(op)
        return canon_rows(fast(self.con) if fast else self.con.sql(sql).df())

    def close(self) -> None:
        self.con.close()


def jaccard_pairs(con, threshold: float = 0.8) -> pd.DataFrame:
    """Document pairs whose word-3-gram sets have Jaccard >= threshold
    (the dedup_minhash_staged oracle): exact, counting intersections
    through an inverted index instead of comparing every pair."""
    sets = {}
    for doc_id, text in con.execute("SELECT doc_id, text FROM documents").fetchall():
        words = [w for w in text.strip().split() if w]
        n = max(len(words) - 2, 1)
        sets[doc_id] = {" ".join(words[i : i + 3]) for i in range(n)}
    postings: dict[str, list[int]] = {}
    for doc_id, sh in sets.items():
        for g in sh:
            postings.setdefault(g, []).append(doc_id)
    common: dict[tuple[int, int], int] = {}
    for ids in postings.values():
        ids.sort()
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                common[(a, b)] = common.get((a, b), 0) + 1
    rows = []
    for (a, b), inter in common.items():
        j = float(inter) / (len(sets[a]) + len(sets[b]) - inter)
        if j >= threshold:
            rows.append((a, b, j))
    return pd.DataFrame(rows, columns=["id_a", "id_b", "jaccard"])


def sparse_chain_groups(con) -> pd.DataFrame:
    """Connected components of equal-length records one substitution
    apart (the entity_groups_sparse_chain oracle). Records: each customer
    salted with an md5 tail, plus typo chains for ``c_custkey % 4 == 0``
    whose variant j overwrites digit-window offsets k with
    ``1 <= (k - ck) mod 8 <= j``."""
    import hashlib

    recs: dict[int, str] = {}
    for ck, c_name in con.execute("SELECT c_custkey, c_name FROM customer").fetchall():
        name = f"{c_name}-{hashlib.md5(str(ck).encode()).hexdigest()[:8]}"
        recs[ck * 10] = name
        if ck % 4 == 0:
            for j in range(1, 3 + ck % 6):
                mid = "".join("x" if 1 <= (k - ck) % 8 <= j else name[10 + k] for k in range(8))
                recs[ck * 10 + j] = name[:10] + mid + name[18:]
    parent = {r: r for r in recs}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    linked = set()
    buckets: dict[tuple, list[int]] = {}
    for r, name in recs.items():
        for i in range(len(name)):
            buckets.setdefault((len(name), i, name[:i], name[i + 1 :]), []).append(r)
    for ids in buckets.values():
        for other in ids[1:]:
            a, b = find(ids[0]), find(other)
            linked.update((ids[0], other))
            if a != b:
                parent[max(a, b)] = min(a, b)
    rows = []
    for r in recs:
        root = find(r) if r in linked else r
        # the component id is its smallest member (find keeps min roots)
        rows.append((root, r, root == r))
    return pd.DataFrame(rows, columns=["entity_id", "member_id", "is_canonical"])


FAST = {"dedup_minhash_staged": jaccard_pairs, "entity_groups_sparse_chain": sparse_chain_groups}
