"""Benchmark inputs: a synthetic star schema, a series catalogue and the
oracle rows the correctness checks compare against.

The tables follow the schema and value domains of the engine's test
data (``region nation customer supplier part orders lineitem events
documents embeddings``) at about 60,000 lineitem rows. Every value comes
from one fixed generator seed, so a rebuild is bit-identical and the
oracle rows computed from it can be reused. The run seed never reaches
this module: it picks the order and mix of operations, not the data.

Preparation is untimed. A dataset directory is reused only when every
table holds exactly the rows recorded in ``ROW_COUNTS`` and the oracle
file is present; anything else is deleted and rebuilt.
"""

from __future__ import annotations

import json
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_SEED = 20240101
VERSION = 1

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# Rows each file must hold for a prepared directory to be reused.
ROW_COUNTS = {
    "region": 5, "nation": 25, "customer": 1500, "supplier": 1000,
    "part": 2000, "orders": 15000, "lineitem": 60525, "events": 10000,
    "documents": 500, "embeddings": 500, "series": 59779,
}

FREQ_UNITS = {"D": "day", "M": "month", "Q": "quarter", "A": "year"}
ORACLE_FILE = "oracle.json"

_WORDS = ("join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window a spark "
          "part group big sort query fast the").split()
_COLORS = "blue red green small hot cold big old".split()
_NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()


def _days(start: str, n: int, rng: np.random.Generator, size: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n, size).astype("timedelta64[D]").astype(
        "timedelta64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part, n_ord = (ROW_COUNTS[t] for t in
                                     ("customer", "supplier", "part", "orders"))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                         "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{_COLORS[a]} {_NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) * 0.1, 1)})
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                           "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": priorities[rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord), lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days("1995-01-02", 2498, rng, n_li)})
    n_ev = ROW_COUNTS["events"]
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    n_doc = ROW_COUNTS["documents"]
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as in the test data
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(_WORDS[w] for w in words))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    n_emb = ROW_COUNTS["embeddings"]
    vecs = rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def series_code(suppkey: int) -> str:
    """Catalogue code of a supplier's daily series; the last letter is
    the frequency the series is fetched at."""
    return f"S{suppkey:04d}{'DMQA'[suppkey % 4]}"


def _connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES + ("series",):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                     f"'{os.path.join(data_dir, name + '.parquet')}'")
    return con


def _oracles(con: duckdb.DuckDBPyConnection, oracle_sql: dict[str, str],
             names: list[str], normalize_rows) -> dict:
    queries = {}
    for name in names:
        if name not in oracle_sql:
            continue
        res = con.execute(oracle_sql[name])
        cols = [d[0] for d in res.description]
        queries[name] = {"columns": cols,
                         "rows": normalize_rows(cols, res.fetchall())}
    series = {}
    for freq, unit in FREQ_UNITS.items():
        rows = con.execute(
            f"SELECT code, CAST(date_trunc('{unit}', date) AS TIMESTAMP), "
            "sum(value) FROM series WHERE code LIKE ? GROUP BY 1, 2",
            [f"%{freq}"]).fetchall()
        for code, period, value in rows:
            series.setdefault(code, []).append((period, value))
    return {"queries": queries,
            "series": {c: normalize_rows(["date", "value"], v)
                       for c, v in series.items()}}


def valid(data_dir: str, query_names: list[str]) -> bool:
    """Whether *data_dir* holds a complete dataset for *query_names*."""
    try:
        with open(os.path.join(data_dir, ORACLE_FILE)) as f:
            oracle = json.load(f)
        if oracle.get("version") != VERSION or oracle.get("names") != sorted(query_names):
            return False
        return all(
            pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
            == n for t, n in ROW_COUNTS.items())
    except (OSError, ValueError, pa.ArrowException):
        return False


def build(data_dir: str, oracle_sql: dict[str, str], query_names: list[str],
          normalize_rows) -> None:
    """(Re)build the tables, the series catalogue and the oracle rows in
    *data_dir*; a half-written set never takes the directory's name."""
    shutil.rmtree(data_dir, ignore_errors=True)
    tmp = data_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.Generator(np.random.PCG64(GENERATOR_SEED))
    tables = _tables(rng)
    con = duckdb.connect()
    con.register("li", tables["lineitem"])
    series = (con.sql(
        "SELECT CAST(date_trunc('day', l_shipdate) AS TIMESTAMP) AS date, "
        "l_suppkey, round(sum(l_extendedprice), 2) AS value "
        "FROM li GROUP BY 1, 2 ORDER BY 2, 1").arrow())
    tables["series"] = pa.table({
        "date": series["date"],
        "code": [series_code(k) for k in series["l_suppkey"].to_pylist()],
        "value": series["value"]})
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    counts = {n: tables[n].num_rows for n in ROW_COUNTS}
    if counts != ROW_COUNTS:
        raise RuntimeError(f"generated row counts {counts} differ from "
                           f"the recorded {ROW_COUNTS}")
    oracle = _oracles(_connect(tmp), oracle_sql, query_names, normalize_rows)
    oracle.update(version=VERSION, names=sorted(query_names))
    with open(os.path.join(tmp, ORACLE_FILE), "w") as f:
        json.dump(oracle, f)
    os.rename(tmp, data_dir)
