"""Output checks, run outside every timed region, all through DuckDB over
the parquet the program wrote — an engine independent of Spark.

* ``s1_mismatches`` — S1 byte identity: extracted ``docs.text`` must equal
  ``pages.text`` for every url.
* ``store_stats`` — triple count, distinct-key count (the store must be a
  set) and on-disk bytes.
* ``triple_diff`` — the exact set comparison of a store with an expected
  triple set (the generator's FIXTURES.md §4 oracle).
* ``oracle_sql`` — the DuckDB form of each reader query; ``same_result``
  compares it with what Spark returned.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow as pa

from inputs import NS, RDF_TYPE


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return con


def _files(path: str) -> str:
    return os.path.join(path, "*", "*.parquet")


def s1_mismatches(con, pages_path: str, docs_path: str) -> int:
    """urls whose extracted text is missing or differs from ``pages.text``."""
    return con.execute(
        f"""
        SELECT count(*) FROM read_parquet('{os.path.join(pages_path, '*.parquet')}') p
        LEFT JOIN read_parquet('{_files(docs_path)}') d USING (url)
        WHERE d.text IS NULL OR d.text <> p.text
        """
    ).fetchone()[0]


def store_stats(con, store_path: str) -> tuple[int, int, int]:
    """(triples, distinct triple keys, bytes on disk) of a triple store."""
    files = glob.glob(_files(store_path))
    if not files:
        return 0, 0, 0
    n, n_distinct = con.execute(
        f"""
        SELECT count(*), count(DISTINCT (subj, pred, obj, obj_is_iri, obj_datatype))
        FROM read_parquet('{_files(store_path)}')
        """
    ).fetchone()
    return n, n_distinct, sum(os.path.getsize(f) for f in files)


def triple_diff(con, store_path: str, expected: set[tuple]) -> tuple[int, int]:
    """(expected triples missing from the store, store triples not expected),
    compared as sets of ``(subj, pred, obj, obj_is_iri, obj_datatype)``."""
    subj, pred, obj, is_iri, dtype = zip(*expected) if expected else ((),) * 5
    con.register("expected_triples", pa.table({
        "subj": pa.array(subj, pa.string()), "pred": pa.array(pred, pa.string()),
        "obj": pa.array(obj, pa.string()), "obj_is_iri": pa.array(is_iri, pa.bool_()),
        "obj_datatype": pa.array(dtype, pa.string()),
    }))
    store = f"SELECT subj, pred, obj, obj_is_iri, obj_datatype FROM read_parquet('{_files(store_path)}')"
    try:
        return tuple(
            con.execute(f"SELECT count(*) FROM ({a} EXCEPT {b})").fetchone()[0]
            for a, b in (("SELECT * FROM expected_triples", store), (store, "SELECT * FROM expected_triples"))
        )
    finally:
        con.unregister("expected_triples")


def oracle_sql(kind: str, params: dict, store_path: str) -> tuple[str, list]:
    t = f"read_parquet('{_files(store_path)}')"
    if kind == "paper_details":
        return (
            f"""
            WITH t AS (SELECT subj, pred, obj FROM {t}),
            m AS (SELECT subj FROM t WHERE pred = ? AND obj = ?),
            v AS (
              SELECT subj,
                min(obj) FILTER (WHERE pred = ?) AS title,
                min(obj) FILTER (WHERE pred = ?) AS pdfUrl,
                min(obj) FILTER (WHERE pred = ?) AS papersWithCodeUrl,
                min(obj) FILTER (WHERE pred = ?) AS year
              FROM t WHERE subj IN (SELECT subj FROM m) GROUP BY subj)
            SELECT m.subj, title, pdfUrl, papersWithCodeUrl, year
            FROM m LEFT JOIN v USING (subj)
            WHERE title IS NOT NULL AND contains(lower(title), ?)
            ORDER BY year DESC NULLS LAST, m.subj ASC LIMIT 10
            """,
            [RDF_TYPE, NS + "Paper", NS + "paperTitle", NS + "pdfUrl", NS + "papersWithCodeUrl",
             NS + "year", params["title_contains"].lower()],
        )
    if kind == "entity_view":
        return (
            f"""
            WITH t AS (SELECT subj, pred, obj FROM {t})
            SELECT m.subj, (SELECT min(obj) FROM t WHERE subj = m.subj AND pred = ?) AS name
            FROM t m WHERE m.pred = ? AND m.obj = ? AND m.subj = ?
            """,
            [params["pred"], RDF_TYPE, params["cls"], params["iri"]],
        )
    if kind == "count_by_predicate":
        return f"SELECT pred, count(*) AS n FROM {t} GROUP BY pred ORDER BY n DESC, pred ASC", []
    if kind == "degree_topk":
        return (
            f"""
            WITH t AS (SELECT subj, obj, obj_is_iri FROM {t}),
            nodes AS (
              SELECT subj AS node, 1 AS out_d, 0 AS in_d FROM t
              UNION ALL SELECT obj, 0, 1 FROM t WHERE obj_is_iri)
            SELECT node, sum(out_d) AS out_degree, sum(in_d) AS in_degree,
                   sum(out_d) + sum(in_d) AS degree
            FROM nodes GROUP BY node ORDER BY degree DESC, node ASC LIMIT ?
            """,
            [params["k"]],
        )
    raise ValueError(f"unknown query kind {kind!r}")


_expected: dict[tuple, list] = {}


def same_result(con, kind: str, params: dict, store_path: str, rows: list) -> bool:
    """Spark's rows equal DuckDB's; the store does not change while readers
    run, so each distinct query is answered by DuckDB once."""
    key = (kind, tuple(sorted(params.items())), store_path)
    if key not in _expected:
        sql, args = oracle_sql(kind, params, store_path)
        _expected[key] = [tuple(r) for r in con.execute(sql, args).fetchall()]
    return _expected[key] == [tuple(r) for r in rows]
