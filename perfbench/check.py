"""Output checks, run after the timed section.

Every committed parquet result is compared with the query's registered
DuckDB oracle, run on the same fixture and normalised by
``tests/compare.py``; a query with no oracle gets a rows>0 check. The
``convert`` step is checked against a DuckDB group-by over the reviews
TSV, and must have written exactly ten parquet files.
"""

from __future__ import annotations

import glob
import os

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _committed(con, path: str):
    return con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()


def check_convert(con, out: str, reviews_dir: str) -> str | None:
    files = glob.glob(os.path.join(out, "files", "*.parquet"))
    if len(files) != 10:
        return f"convert wrote {len(files)} parquet files, expected 10"
    want = con.sql(
        f"""SELECT product_category, COUNT(*) AS cnt
            FROM read_csv('{reviews_dir}/*.tsv', delim='\t', header=true,
                          all_varchar=true, quote='"')
            GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    got_files = con.sql(
        f"""SELECT product_category, COUNT(*) AS cnt
            FROM read_parquet('{out}/files/*.parquet') GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    got_counts = con.sql(
        f"SELECT product_category, cnt FROM read_parquet('{out}/counts/*.parquet') ORDER BY 1"
    ).fetchall()
    if got_files != want:
        return "convert parquet rows differ from the TSV group-by"
    if [(c, int(n)) for c, n in got_counts] != want:
        return "convert counts differ from the TSV group-by"
    return None


def check_all(execs: list[dict], oracles: dict[str, str], data_dir: str, reviews_dir: str) -> dict:
    """Check each execution without an error; returns ``{exec_id: error}``
    for the failures (both raised and wrong-output executions)."""
    from tests.compare import assert_frames_match

    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    expected: dict[str, object] = {}
    failures = {}
    for e in execs:
        if e["error"]:
            failures[e["exec_id"]] = e["error"]
            continue
        name = e["step"]
        try:
            if name == "convert":
                err = check_convert(con, e["out"], reviews_dir)
            elif name in oracles:
                if name not in expected:
                    expected[name] = con.sql(oracles[name]).df()
                assert_frames_match(_committed(con, e["out"]), expected[name], name)
                err = None
            else:
                n = con.sql(f"SELECT COUNT(*) FROM read_parquet('{e['out']}/*.parquet')").fetchone()[0]
                err = None if n > 0 else "rows-only check: no rows"
        except (AssertionError, duckdb.Error) as exc:
            err = f"{type(exc).__name__}: {str(exc)[:300]}"
        if err:
            failures[e["exec_id"]] = err
    con.close()
    return failures
