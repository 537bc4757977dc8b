"""Output checks, run outside the timed region: every timed result is
compared with an independent DuckDB computation over the same parquet
inputs, by the canonical-row rule of ``tools/crosscheck.py`` (column
names sorted, floats rounded to 9 places, rows sorted by ``repr``).
"""

from __future__ import annotations

import math

import duckdb

from polars_sim_spark.queries.simjoin import duck_trigrams_cte


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def rows_to_canon(cols: list[str], rows: list[tuple]) -> list[tuple]:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(canon(r[i]) for i in idx) for r in rows), key=repr)


def compare(scols: list[str], srows: list[tuple], dcols: list[str], drows: list[tuple]) -> str | None:
    """None when both results are the same canonical row multiset, else a
    one-line reason."""
    if sorted(scols) != sorted(dcols):
        return f"columns spark={sorted(scols)} duck={sorted(dcols)}"
    if len(srows) != len(drows):
        return f"rowcount spark={len(srows)} duck={len(drows)}"
    sc, dc = rows_to_canon(scols, srows), rows_to_canon(dcols, drows)
    if sc != dc:
        bad = next((a, b) for a, b in zip(sc, dc) if a != b)
        return f"value mismatch, first diff spark={bad[0]} duck={bad[1]}"
    return None


def round_col(cols: list[str], rows: list[tuple], col: str, places: int = 6) -> list[tuple]:
    i = cols.index(col)
    return [r[:i] + (round(r[i], places),) + r[i + 1:] for r in rows]


def trigram_topn_sql(left: str, right: str, top_n: int) -> str:
    """Two-table binary trigram cosine top-n with the engine's tie rule
    (sim DESC, r_id ASC): the oracle twin of ``similarity_mapping`` built
    from the registry's own trigram CTE. ``left``/``right`` are relations
    with columns ``(l_id, name)`` / ``(r_id, name)``; returns
    ``(l_id, r_id, sim)`` with the raw double sim."""
    return f"""
WITH lt AS ({duck_trigrams_cte(left, 'l_id', 'name')}),
rt AS ({duck_trigrams_cte(right, 'r_id', 'name')}),
ln AS (SELECT id, count(*) AS n FROM lt GROUP BY id),
rn AS (SELECT id, count(*) AS n FROM rt GROUP BY id),
ov AS (
  SELECT lt.id AS l_id, rt.id AS r_id, count(*) AS overlap
  FROM lt JOIN rt USING (tok) GROUP BY 1, 2
),
sim AS (
  SELECT l_id, r_id, CAST(overlap AS DOUBLE) / (sqrt(ln.n) * sqrt(rn.n)) AS sim
  FROM ov JOIN ln ON ln.id = l_id JOIN rn ON rn.id = r_id
)
SELECT l_id, r_id, sim
FROM (SELECT *, row_number() OVER (PARTITION BY l_id ORDER BY sim DESC, r_id) AS rn FROM sim)
WHERE rn <= {top_n}
"""


class Oracle:
    """A DuckDB connection with parquet files as views."""

    def __init__(self, views: dict[str, str]):
        self.con = duckdb.connect()
        for name, path in views.items():
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        rel = self.con.sql(sql)
        return list(rel.columns), rel.fetchall()

    def close(self) -> None:
        self.con.close()
