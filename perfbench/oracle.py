"""DuckDB reference answers for the benchmark's correctness gate.

Everything here reads the generated input files directly — never the
engine's tables — and recomputes what the engine must have committed or
returned. All checks run outside the timed regions.
"""

from __future__ import annotations

import duckdb

AGG = ("cnt", "sum_n_tok", "min_n_tok", "max_n_tok")


def _rel(con: duckdb.DuckDBPyConnection, files: list[str], deleted: list[str]) -> None:
    """Register the live input (files minus deleted doc_ids) as `seq`."""
    con.execute("DROP TABLE IF EXISTS victims")
    con.execute("CREATE TEMP TABLE victims(doc_id VARCHAR)")
    if deleted:
        con.executemany("INSERT INTO victims VALUES (?)", [(d,) for d in deleted])
    flist = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    con.execute(
        "CREATE OR REPLACE TEMP VIEW seq AS SELECT * FROM read_parquet(["
        + flist
        + "]) WHERE doc_id NOT IN (SELECT doc_id FROM victims)"
    )


def rollup(
    files: list[str], deleted: list[str], width_s: int,
    sources: list[str] | None = None, t_min: int | None = None,
    t_max: int | None = None,
) -> dict[tuple[str, int], tuple[int, int, int, int]]:
    """{(source, bucket_s): (cnt, sum, min, max)} of n_tok at ``width_s``."""
    con = duckdb.connect()
    try:
        _rel(con, files, deleted)
        where, params = ["TRUE"], []
        if sources is not None:
            where.append(
                "source IN (" + ", ".join("?" for _ in sources) + ")"
            )
            params += list(sources)
        if t_min is not None:
            where.append("event_s >= ?")
            params.append(t_min)
        if t_max is not None:
            where.append("event_s < ?")
            params.append(t_max)
        rows = con.execute(
            f"""SELECT source, event_s - (event_s % {width_s}) AS b,
                       count(*), sum(n_tok), min(n_tok), max(n_tok)
                FROM seq WHERE {' AND '.join(where)} GROUP BY 1, 2""",
            params,
        ).fetchall()
    finally:
        con.close()
    return {(s, int(b)): tuple(int(v) for v in rest) for s, b, *rest in rows}


def source_totals(files: list[str], deleted: list[str], source: str) -> tuple:
    """(rows, sum n_tok, sum event_s, sum of all token ids) of one source
    — the reference for a one-source rehydrate."""
    con = duckdb.connect()
    try:
        _rel(con, files, deleted)
        r = con.execute(
            """SELECT count(*), coalesce(sum(n_tok), 0),
                      coalesce(sum(event_s), 0),
                      coalesce(sum(list_sum(tokens)), 0)
               FROM seq WHERE source = ?""",
            [source],
        ).fetchone()
    finally:
        con.close()
    return tuple(int(v) for v in r)


def docs(files: list[str], doc_ids: list[str]) -> dict[str, tuple[int, list[int]]]:
    """{doc_id: (event_s, tokens)} for a sample of doc_ids."""
    con = duckdb.connect()
    try:
        _rel(con, files, [])
        rows = con.execute(
            "SELECT doc_id, event_s, tokens FROM seq WHERE doc_id IN ("
            + ", ".join("?" for _ in doc_ids) + ")",
            list(doc_ids),
        ).fetchall()
    finally:
        con.close()
    return {d: (int(t), list(toks)) for d, t, toks in rows}


def count_rows(files: list[str], deleted: list[str]) -> int:
    con = duckdb.connect()
    try:
        _rel(con, files, deleted)
        return int(con.execute("SELECT count(*) FROM seq").fetchone()[0])
    finally:
        con.close()
