"""Seed-driven fixture generation for the benchmark workloads.

Every table is a pure function of ``(seed, sf)``: numpy's PCG64 stream
draws the values and pyarrow writes the parquet, so one seed gives
byte-identical files on every build. The schemas and value ranges
mirror FIXTURES.md (TPC-H-shaped star schema, the ``events`` stream, the
``documents`` corpus with planted near-duplicates, 64-dimensional unit
``embeddings``).

``reviews/part-0.tsv`` is an Amazon-reviews-shaped, all-string, headered
TSV derived from the sf0.1 ``lineitem``/``part``/``documents`` tables with
DuckDB on one thread, so its row order, and hence its bytes, is fixed
too: the input of ``sources.reference_pipeline.convert``.

Fixtures are cached per seed under the work directory (the most recently
used ``KEEP_SEEDS`` seeds); ``ensure`` only builds what is missing and
records the on-disk sizes in a manifest.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "hot", "cold", "new", "old", "small", "large", "blue"]
PART_NOUN = ["bolt", "ring", "rod", "plate", "gear", "widget", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
REVIEW_SCALE = 1  # reviews TSV rows per lineitem row, in tenths
KEEP_SEEDS = 4  # bounds the cache at about 160 MB


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path, compression="snappy")


def relational_tables(seed: int, sf: float) -> dict[str, dict]:
    """The eight relational tables at scale factor ``sf``, as column dicts."""
    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    t = {}
    t["region"] = {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    t["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = {
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = {
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(PART_NOUN)[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
    }
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users // 10, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    return t


def corpus_tables(seed: int, sf: float) -> dict[str, dict]:
    """``documents`` (with ~5% planted near-duplicates) and ``embeddings``."""
    rng = np.random.Generator(np.random.PCG64([seed, 2]))
    n_doc = 500 if sf <= 0.01 else int(50_000 * sf)
    n_emb = 500 if sf <= 0.01 else int(20_000 * sf)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    dup_of = rng.random(n_doc) < 0.05
    lengths = rng.integers(10, 101, n_doc)
    for i in range(n_doc):
        if dup_of[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lengths[i])]))
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return {
        "documents": {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        },
        "embeddings": {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        },
    }


def write_sf(seed: int, sf: float, dest: str) -> None:
    os.makedirs(dest, exist_ok=True)
    for name, cols in {**relational_tables(seed, sf), **corpus_tables(seed, sf)}.items():
        _write(os.path.join(dest, f"{name}.parquet"), cols)


def _write_reviews(src: str, dest: str) -> None:
    """Reviews TSV: one row per sampled lineitem, all columns strings."""
    import duckdb

    os.makedirs(dest, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    n_docs = con.sql(f"SELECT COUNT(*) FROM read_parquet('{src}/documents.parquet')").fetchone()[0]
    con.execute(
        f"""
        COPY (
          WITH li AS (
            SELECT row_number() OVER () AS rid, *
            FROM read_parquet('{src}/lineitem.parquet')
          ),
          d AS (SELECT text, row_number() OVER (ORDER BY doc_id) - 1 AS dk
                FROM read_parquet('{src}/documents.parquet'))
          SELECT ['US','UK','DE','FR','JP'][1 + li.l_suppkey % 5] AS marketplace,
                 CAST(li.l_orderkey % 100003 AS VARCHAR) AS customer_id,
                 'R' || lpad(CAST(li.rid AS VARCHAR), 10, '0') AS review_id,
                 'P' || CAST(li.l_partkey AS VARCHAR) AS product_id,
                 CAST(li.l_partkey % 997 AS VARCHAR) AS product_parent,
                 p.p_name || ' ' || p.p_brand AS product_title,
                 p.p_type || '_' || CAST(p.p_size % 4 AS VARCHAR) AS product_category,
                 CAST(1 + CAST(li.l_quantity AS BIGINT) % 5 AS VARCHAR) AS star_rating,
                 CAST(CAST(li.l_quantity AS BIGINT) % 7 AS VARCHAR) AS helpful_votes,
                 CAST(CAST(li.l_quantity AS BIGINT) % 11 AS VARCHAR) AS total_votes,
                 CASE WHEN li.l_linenumber = 7 THEN 'Y' ELSE 'N' END AS vine,
                 CASE WHEN li.l_returnflag = 'R' THEN 'N' ELSE 'Y' END AS verified_purchase,
                 CASE WHEN li.l_linenumber = 1 THEN '' ELSE p.p_name || ' review' END
                   AS review_headline,
                 d.text AS review_body,
                 strftime(li.l_shipdate, '%Y-%m-%d') AS review_date
          FROM li
          JOIN read_parquet('{src}/part.parquet') p ON p.p_partkey = li.l_partkey
          JOIN d ON d.dk = li.rid % {n_docs}
          WHERE li.rid % 10 < {REVIEW_SCALE}
          ORDER BY li.rid
        ) TO '{dest}/part-0.tsv'
        (HEADER, DELIMITER '\t', QUOTE '"', FORCE_QUOTE (review_headline))
        """
    )
    con.close()


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _evict(cache: str, keep: str) -> None:
    """Drop all but the ``KEEP_SEEDS`` most recently used seed directories."""
    seeds = sorted(
        (d for d in os.listdir(cache) if d != keep),
        key=lambda d: os.path.getmtime(os.path.join(cache, d)),
        reverse=True,
    )
    for d in seeds[KEEP_SEEDS - 1:]:
        shutil.rmtree(os.path.join(cache, d), ignore_errors=True)


def ensure(workdir: str, seed: int, kinds: tuple[str, ...]) -> dict:
    """Build the fixtures ``kinds`` (in order) for ``seed``, cached, and
    return the manifest: directory paths plus their on-disk sizes in bytes."""
    cache = os.path.join(workdir, "fixtures")
    root = os.path.join(cache, f"seed{seed}")
    os.makedirs(root, exist_ok=True)
    os.utime(root)
    _evict(cache, keep=f"seed{seed}")
    manifest_path = os.path.join(root, "manifest.json")
    manifest = {}
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            manifest = json.load(fh)
    for kind in kinds:
        if kind in manifest:
            continue
        path = os.path.join(root, kind)
        tmp = path + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        if kind == "sf0.1":
            write_sf(seed, 0.1, tmp)
        elif kind == "reviews":
            _write_reviews(manifest["sf0.1"]["path"], tmp)
        else:
            raise ValueError(f"unknown fixture kind {kind!r}")
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
        manifest[kind] = {"path": path, "bytes": _dir_bytes(path)}
        with open(manifest_path, "w") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest
